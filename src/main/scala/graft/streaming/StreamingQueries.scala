package graft.streaming

import java.io.File
import java.nio.file.{Files, Path}
import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.apache.spark.sql.types.StructType
import graft.{GraftSession, Tables}
import graft.sources.Etl

/** Declared-query wrappers around the `StreamingOps` pipelines: each runs
  * the REAL Structured Streaming query (file-stream source → transform →
  * sink, micro-batches, watermarks, state store) over the events fixture
  * and returns the sink as a batch DataFrame, with the equivalent batch
  * SQL as its DuckDB oracle. This is what puts the streaming tier under
  * the same hard correctness gate as every batch operator — the
  * batch/stream equivalence StreamingSpec asserts on toy fixtures, the
  * driver hash-verifies on the full fixture.
  *
  * Source stance: the declared queries feed via Spark's FILE-STREAM
  * source (`readStream.schema(...).parquet(dir)`). Every delivery is
  * staged before the stream starts, in one of two ways, and reaches the
  * monitored directory by file RENAME in [[replay]], the one replay loop,
  * which drains the query with `processAllAvailable()` after each
  * delivery so batch boundaries are deterministic:
  *  - filtered slices (and any other computed deliveries) are laid down
  *    by ONE Spark write for the whole replay ([[stageDeliveries]]: one
  *    parquet file per delivery);
  *  - a delivery of the WHOLE stored events table is a byte copy of its
  *    parquet file ([[copyTable]]), so no Spark job runs before the
  *    stream and the micro-batch is the table's only scan.
  * Nothing data-sized ever touches the driver (MemoryStream lives only in
  * StreamingSpec's toy fixtures). In production the source swaps to
  * `readStream.format("kafka")` one line per query; every pipeline here is
  * already partitioned/watermarked for unbounded input (state is O(active
  * keys or windows), never O(stream length)). Sinks are kept small by
  * aggregating in (or right after) the stream, so the memory sink never
  * holds more than the aggregate's cardinality except for the dedup
  * pass-through, which is fixture-sized by design. */
object StreamingQueries {

  private def eventsDf(spark: SparkSession, sfDir: String): DataFrame =
    eventColumns(Tables.read(spark, sfDir, "events"))

  /** The five event columns every stream uses (`props` is never read, so
    * it stays pruned from the scan). */
  private def eventColumns(events: DataFrame): DataFrame =
    events.select("event_id", "user_id", "ts", "event_type", "value")

  /** Scratch base for ALL stream-run state — source dirs, staging,
    * offset/commit logs, state-store deltas: tmpfs (`/dev/shm`) when
    * present. The r18 profile showed the micro-batch replays' residual
    * fixed cost is per-batch checkpoint machinery — every batch fsyncs
    * an offsets log, a commit log, and one state delta per partition —
    * and on a disk-backed `java.io.tmpdir` those fsyncs are the floor
    * (stream_lateness pays it ~64 times). The scratch is all
    * DELETE-ON-RETURN harness state (the memory sink holds results), so
    * durability buys nothing here; a production deployment points
    * `SPARK_GRAFT_STREAM_TMP` at storage whose durability matches its
    * recovery story. */
  private[graft] val streamTmpBase: java.nio.file.Path = {
    val base = sys.env.get("SPARK_GRAFT_STREAM_TMP")
      .map(java.nio.file.Paths.get(_))
      .filter(java.nio.file.Files.isDirectory(_))
      .orElse {
        Some(java.nio.file.Paths.get("/dev/shm"))
          .filter(java.nio.file.Files.isDirectory(_))
      }
      .getOrElse(
        java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")))
    val dir = base.resolve("graft_stream_tmp")
    java.nio.file.Files.createDirectories(dir)
    dir
  }

  private def streamTmp(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(streamTmpBase, prefix)

  /** See [[startToSink]]'s scaladoc. */
  private val streamStateParts: String = "2"

  /** Starts `df` into a memory sink named `graft_sink_<key>` (the
    * query's `name`). The sink name is deterministic per query key (and
    * the previous run's view is dropped) so repeated invocations — bench
    * warm-up + timed pass — can't accumulate sinks or collide.
    *
    * The stream starts inside [[GraftSession.withConfs]]: its clone
    * copies the session conf at `start()`, and the session gets its prior
    * values back right after, so concurrent batch plans are unaffected.
    * It sets [[GraftSession.sharedExecutor]], so the stream's generated
    * code is compiled once per JVM and not on every run, and pins the
    * state layout to [[streamStateParts]] partitions: stateful operators
    * run one state store per shuffle partition (FOUR for a stream-stream
    * join), and EVERY micro-batch — including the load-bearing no-data
    * eviction batches — schedules one task and commits one delta file
    * per store. r17 pinned 8; the r18 profile of stream_lateness (64
    * micro-batches, ~190 ms/batch) showed the per-batch floor is still
    * those mostly-empty store commits, so the count drops to 2 —
    * deliveries here are KB-sized, and results are partition-count
    * invariant (oracle-gated). */
  private def startToSink(spark: SparkSession, key: String,
      mode: OutputMode, df: DataFrame, ckRoot: Path): StreamingQuery = {
    val name = s"graft_sink_$key"
    spark.catalog.dropTempView(name)
    GraftSession.withConfs(spark, GraftSession.sharedExecutor,
        "spark.sql.shuffle.partitions" -> streamStateParts) {
      df.writeStream.format("memory").queryName(name)
        // explicit checkpoint under the caller's scratch root (tmpfs,
        // cleaned by the caller's deleteRecursively) — the default
        // temporary checkpoint lands on java.io.tmpdir and pays a disk
        // fsync per micro-batch for offsets/commits/state deltas
        .option("checkpointLocation", ckRoot.resolve(s"ck_$key").toString)
        .outputMode(mode).start()
    }
  }
  // NOTE (r17, measured dead end): disabling no-data micro-batches
  // (`spark.sql.streaming.noDataMicroBatches.enabled=false`) halves the
  // batch count of the watermarked replays but CHANGES THEIR OUTPUT:
  // Spark filters late events with the PREVIOUS batch's watermark, and
  // it is the eviction-only no-data batch that advances it between
  // deliveries — without it every delivery is judged one watermark
  // step more leniently (stream_lateness admitted 4 extra rows at
  // sf0.01). The oracles model the default; the knob must stay on.

  /** Stages a replay's deliveries in ONE Spark job: `deliveries` carries
    * each row's delivery index in an integer `bid` column (arrival
    * order), and is written under `dir` partitioned by `bid` from a
    * single task (`coalesce(1)`), so every delivery is exactly one
    * parquet file. No shuffle: `repartition(bid)` would give the same
    * files, but under AQE its exchange materialises as a job of its own.
    * Returns each delivery's files keyed by bid, in NUMERIC bid order; a
    * bid with no rows gets no directory, so an empty delivery is left
    * out. The files are staging only — [[replay]] renames them into a
    * monitored directory, and the caller's scratch root removes the
    * rest. */
  private[graft] def stageDeliveries(deliveries: DataFrame, dir: Path)
      : Seq[(Long, Seq[File])] = {
    deliveries.coalesce(1).write.partitionBy("bid").mode("overwrite")
      .parquet(dir.toString)
    dir.toFile.listFiles().toSeq
      .filter(d => d.isDirectory && d.getName.startsWith("bid="))
      .map { d =>
        d.getName.stripPrefix("bid=").toLong ->
          d.listFiles().toSeq.filter(_.getName.endsWith(".parquet"))
      }
      .sortBy(_._1)
  }

  /** [[stageDeliveries]] over one frame per delivery, in arrival order
    * (delivery i gets bid i; the frames union by column name). */
  private[graft] def stageDeliveries(deliveries: Seq[DataFrame], dir: Path)
      : Seq[(Long, Seq[File])] =
    stageDeliveries(deliveries.zipWithIndex
      .map { case (df, i) => df.withColumn("bid", lit(i.toLong)) }
      .reduce(_ unionByName _), dir)

  /** The one replay loop: delivery 0 is renamed into its source
    * directories, the query is started and drained, then each later
    * delivery is renamed in and drained in turn, so every delivery is (at
    * least) one micro-batch. A delivery is a list of (staged file,
    * monitored directory) moves; the file source tracks files by PATH, so
    * every rename is new input — including a byte-identical redelivery.
    * A `b<i>-` prefix keeps names unique across deliveries (part-file
    * names can repeat across the partition dirs of one write). Returns
    * the stopped query. */
  private def replay(deliveries: Seq[Seq[(File, Path)]])(
      start: => StreamingQuery): StreamingQuery = {
    def moveIn(i: Int): Unit = deliveries(i).foreach { case (f, dir) =>
      Files.move(f.toPath, dir.resolve(s"b$i-${f.getName}")): Unit
    }
    if (deliveries.nonEmpty) moveIn(0)
    val q = start
    try {
      q.processAllAvailable()
      deliveries.indices.drop(1).foreach { i =>
        moveIn(i)
        q.processAllAvailable()
      }
    } finally q.stop()
    q
  }

  /** Runs `pipeline` as a stream over one file-stream source declaring
    * `schema`, fed by [[replay]], and reads the memory sink back as a
    * DataFrame. `stage` lays every delivery down under the directory it
    * is given and returns the files of each micro-batch in arrival
    * order — [[stageDeliveries]] or [[copyTable]]. Everything a run
    * leaves (staging, source dir, checkpoint) sits under one scratch
    * root, deleted on every exit path: the memory sink holds the
    * results, so the source files are dead weight. */
  private def runStaged(spark: SparkSession, key: String,
      schema: StructType, mode: OutputMode)(
      stage: Path => Seq[Seq[File]])(
      pipeline: DataFrame => DataFrame): DataFrame = {
    val root = streamTmp(s"graft_stream_$key")
    try {
      val srcDir = Files.createDirectories(root.resolve("src"))
      val staged = stage(root.resolve("stage"))
      val q = replay(staged.map(_.map(_ -> srcDir))) {
        val src = spark.readStream.schema(schema).parquet(srcDir.toString)
        startToSink(spark, key, mode, pipeline(src), root)
      }
      spark.table(q.name)
    } finally Etl.deleteRecursively(root.toFile)
  }

  /** [[runStaged]] over one frame per delivery, in arrival order, staged
    * by [[stageDeliveries]]; the source declares the first frame's
    * schema. */
  private def runStaged(spark: SparkSession, key: String,
      deliveries: Seq[DataFrame], mode: OutputMode)(
      pipeline: DataFrame => DataFrame): DataFrame =
    runStaged(spark, key, deliveries.head.schema, mode)(
      stageDeliveries(deliveries, _).map(_._2))(pipeline)

  /** A whole stored table as ONE delivery: its parquet file copied byte
    * for byte into `dir`. The table is only ever read — fixtures may sit
    * on read-only storage, so it is never linked, renamed or written.
    * Fails unless the table is a non-empty regular file and the copy is
    * whole, so a stream never runs over a silently empty source. */
  private def copyTable(table: String, dir: Path): File = {
    val src = new File(table)
    require(src.isFile && src.length > 0,
      s"whole-table delivery: $table is not a non-empty parquet file")
    Files.createDirectories(dir)
    val copy = Files.copy(src.toPath, dir.resolve(src.getName)).toFile
    require(copy.length == src.length,
      s"whole-table delivery: copied ${copy.length} of ${src.length} " +
        s"bytes of $table")
    copy
  }

  /** Runs `pipeline` as a stream over ONE delivery of the whole events
    * table ([[copyTable]] through [[runStaged]]): no Spark job runs
    * before the stream starts, and its micro-batch is the table's only
    * scan. The source declares the stored file's raw schema (memoised by
    * `Tables.rawSchema`, so no footer job); `pipeline` sees what
    * [[eventsDf]] gives a batch query — `Tables.normalizeEvents`, then
    * the five event columns. */
  private def runEventsStream(spark: SparkSession, sfDir: String,
      key: String, mode: OutputMode)(
      pipeline: DataFrame => DataFrame): DataFrame =
    runStaged(spark, key, Tables.rawSchema(spark, sfDir, "events"), mode)(
      dir => Seq(Seq(copyTable(Tables.file(sfDir, "events"), dir)))) {
      src => pipeline(eventColumns(Tables.normalizeEvents(src)))
    }

  /** Watermarked tumbling-window aggregation, run as a stream (complete
    * mode — the memory sink holds the final windows; the watermark is
    * exercised but eviction isn't needed for a finite fixture). Oracle =
    * the batch tumbling-window SQL (`ev_window_tumbling`'s). */
  def windowTumbling(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val out = runEventsStream(spark, sfDir, "window_tumbling",
      OutputMode.Complete())(StreamingOps.windowedCounts)
    out.select($"hour_start".cast("string").as("hour_start"),
      $"event_type", $"cnt", $"sum_value")
      .orderBy($"hour_start".asc, $"event_type".asc)
  }

  /** Streaming dedup under REDELIVERY: the full fixture is delivered
    * twice (batch 2 replays batch 1 — the at-least-once upstream every
    * exactly-once pipeline has to absorb); `dropDuplicatesWithinWatermark`
    * must emit each event_id exactly once. The sink (one row per unique
    * event) is then aggregated per type, so the oracle is simply the
    * batch aggregate over the UN-duplicated fixture. */
  def dedupRedelivery(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = eventsDf(spark, sfDir)
    // The redelivery is the slice strictly INSIDE the dedup horizon
    // (ts > max − 9 min vs the 10-min watermark): after the first
    // delivery drains, the watermark sits at max(ts) − 10 min, so a
    // full-fixture redelivery would mostly be discarded as LATE data
    // before ever consulting dedup state. This slice arrives on-time —
    // every row reaches dropDuplicatesWithinWatermark and MUST be
    // absorbed by dedup state itself; a dedup failure double-counts it
    // in the aggregate. One-row fitted bound, the same pattern as
    // sessionizeToCompletion's sentinel sizing.
    val maxRow = ev.agg(max(unix_micros($"ts"))).head()
    require(!maxRow.isNullAt(0), "events fixture is empty")
    val bound =
      new Timestamp(maxRow.getLong(0) / 1000L - 9L * 60000L)
    val out = runStaged(spark, "dedup",
      Seq(ev, ev.filter($"ts" > lit(bound))), OutputMode.Append()) { df =>
      StreamingOps.dedupStream(df)
    }
    out.groupBy($"event_type")
      .agg(count(lit(1)).as("cnt"),
        round(sum($"value".cast("decimal(20,6)")), 4).cast("double")
          .as("sum_value"))
      .orderBy($"event_type".asc)
  }

  /** Stream-static enrichment + streaming aggregate: each micro-batch
    * joins the BROADCAST customer dim (map-side, shuffle-free), the
    * running per-segment aggregate is emitted in complete mode. Oracle =
    * the batch left join + group-by. */
  def enrichAgg(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dim = Tables.read(spark, sfDir, "customer")
      .select($"c_custkey", $"c_mktsegment")
    val out = runEventsStream(spark, sfDir, "enrich",
      OutputMode.Complete()) { df =>
      StreamingOps.enrichWithDim(df, dim)
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("cnt"),
          round(sum($"value".cast("decimal(20,6)")), 4).cast("double")
            .as("sum_value"))
    }
    out.orderBy($"c_mktsegment".asc)
  }

  /** STREAMING sketch maintenance — the portable per-day HLL registers
    * (graft.operators.Sketches geometry) kept as Complete-mode streaming
    * aggregation state: register max is merge-order-invariant, so the
    * stream maintains an exact-same-bits sketch incrementally, whatever
    * the micro-batch slicing. Proven here by delivering the fixture in
    * two halves (even/odd event_id — BOTH halves touch every day, so
    * every day's registers are genuinely merged across batches, not
    * appended) and finalizing the sink's registers through the shared
    * batch estimator: the oracle replays the registers from the whole
    * fixture at once. This is the 100 TB streaming-analytics shape —
    * per-key distinct counts maintained forever in O(m·days) state with
    * no raw retention, readable at any time. */
  def hllDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = eventsDf(spark, sfDir)
    val out = runStaged(spark, "hll_registers",
      Seq(ev.filter($"event_id" % 2 === 0), ev.filter($"event_id" % 2 === 1)),
      OutputMode.Complete()) { df =>
      graft.operators.Sketches.hllDayRegisters(df)
    }
    graft.operators.Sketches.hllFinalizeDaily(spark, sfDir, out)
  }

  /** `flatMapGroupsWithState` sessionization run to event-time-timeout
    * completion: after the fixture batch, two far-future sentinel events
    * (user −1) advance the watermark so every real session closes and
    * emits — watermark N is derived from data through batch N−1, hence
    * TWO sentinels: the first makes the closing watermark, the second
    * makes it current. Output is the per-user (session count, event
    * count) rollup of the emitted closed sessions — integers only; the
    * oracle is the batch lag+running-sum sessionizer SQL. */
  def sessionizeToCompletion(spark: SparkSession, sfDir: String)
      : DataFrame = {
    import spark.implicits._
    val evs = eventsDf(spark, sfDir)
      .select($"user_id", $"ts", $"value")
    // one-row fitted bound (max event time), not a data collect: the
    // sentinel timestamps must clear every lastEvent+gap(30)+watermark(10)
    // horizon in the fixture
    val maxRow = evs.agg(max(unix_micros($"ts"))).head()
    require(!maxRow.isNullAt(0), "events fixture is empty")
    val maxUs = maxRow.getLong(0)
    def sentinel(plusMin: Long): DataFrame =
      Seq((-1L, new Timestamp(maxUs / 1000L + plusMin * 60000L), 0.0))
        .toDF("user_id", "ts", "value")
    // +41 min: past every lastEvent+gap(30)+watermark(10) horizon
    val out = runStaged(spark, "sessionize",
      Seq(evs, sentinel(41), sentinel(120)), OutputMode.Append()) { df =>
      StreamingOps.sessionize(df.as[StreamingOps.Ev], gapMinutes = 30).toDF()
    }
    out.filter($"closed" && $"user_id" >= 0)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_sessions"), sum($"n_events").as("n_events"))
      .orderBy($"user_id".asc)
  }

  /** `mapGroupsWithState` CDC upsert view, one delivery of the full
    * change log: update mode emits each key's latest record once per
    * batch it changed in — with a single batch, the sink IS the final
    * upsert table. Same output shape and oracle as the batch
    * `ev_cdc_compact` argmax aggregate. */
  def cdcUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val out = runEventsStream(spark, sfDir, "cdc", OutputMode.Update()) {
      df =>
        StreamingOps.latestPerKey(
          df.select($"user_id", $"event_id", $"ts", $"event_type")
            .as[StreamingOps.Cdc]).toDF()
    }
    out.select($"user_id", $"n_versions", $"last_event_id",
      $"last_event_type", $"last_ts".cast("string").as("last_ts"))
      .orderBy($"user_id".asc)
  }

  /** Watermarked stream-stream join: the purchases stream joined to the
    * clicks stream (same user, click within the preceding 30 minutes),
    * both sides fed from their own file-stream source and run through the
    * real symmetric-hash join with per-side watermarks; the sink (one row
    * per qualifying pair) rolls up to pairs-per-user. Oracle = the batch
    * inequality join. */
  def streamStreamJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = eventsDf(spark, sfDir)
    // both sides staged by ONE write (bid 0 = clicks, 1 = purchases) and
    // renamed into their own source dirs as one delivery, before the start
    val sides = ev.filter($"event_type".isin("click", "purchase"))
      .select($"user_id", $"ts", $"event_id",
        when($"event_type" === "click", 0L).otherwise(1L).as("bid"))
    val root = streamTmp("graft_stream_join")
    val result =
      try {
        val dirs = Seq("clicks", "purchases")
          .map(d => Files.createDirectories(root.resolve(d)))
        val staged = stageDeliveries(sides, root.resolve("stage"))
        def side(bid: Int, p: String): DataFrame =
          spark.readStream.schema(sides.drop("bid").schema)
            .parquet(dirs(bid).toString)
            .select($"user_id".as(s"${p}_user"), $"ts".as(s"${p}_ts"),
              $"event_id".as(s"${p}_id"))
        // two sources, so the single-source runStaged doesn't fit — but
        // the replay loop and the pinned-layout start/sink are shared (a
        // stream-stream join runs FOUR state stores per shuffle
        // partition, so the [[streamStateParts]] pin matters most here)
        val q = replay(Seq(staged.flatMap { case (bid, files) =>
          files.map(_ -> dirs(bid.toInt))
        })) {
          startToSink(spark, "stream_join", OutputMode.Append(),
            StreamingOps.clickAttribution(side(0, "c"), side(1, "p")), root)
        }
        spark.table(q.name)
      } finally Etl.deleteRecursively(root.toFile)
    result
      .groupBy($"p_user")
      .agg(count(lit(1)).as("n_pairs"))
      .select($"p_user".as("user_id"), $"n_pairs")
      .orderBy($"user_id".asc)
  }

  /** The `foreachBatch` generational incremental-agg sink, driven with
    * the same before/after-cutoff split as the batch `ev_incremental_agg`
    * (batch 0 = history, batch 1 = the delta): after both commits the
    * LAST surviving generation is read back as the result — by listing
    * `state_vN` dirs and taking the highest N, not a hardcoded
    * generation number, so the result stays correct even if the engine
    * ever splits a delivery into extra micro-batches. The oracle is the
    * from-scratch single-pass recompute — proving state_vN = merge(
    * state_vN-1, delta) is exact. */
  def incrementalSink(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cutUs = java.time.Instant.parse("2024-01-20T00:00:00Z")
      .getEpochSecond * 1000000L
    val ev = eventsDf(spark, sfDir)
    val root = streamTmp("graft_stream_inc")
    try {
      val srcDir = Files.createDirectories(root.resolve("src"))
      val stateRoot = root.resolve("state").toString
      val staged = stageDeliveries(
        Seq(ev.filter(unix_micros($"ts") < cutUs),
          ev.filter(unix_micros($"ts") >= cutUs)),
        root.resolve("stage"))
      // a one-sided split would leave one delivery, fire one micro-batch,
      // and leave state_v0 in place — the merge-equals-recompute proof
      // would pass VACUOUSLY; fail loudly instead (the stager leaves
      // empty deliveries out, so no probe job is needed)
      require(staged.size == 2,
        "cutoff must split the fixture into two non-empty batches")
      replay(staged.map(_._2.map(_ -> srcDir))) {
        StreamingOps.incrementalAggSink(
          spark.readStream.schema(ev.schema).parquet(srcDir.toString),
          stateRoot)
      }
      // locate the last surviving generation (older ones are pruned by
      // the sink's retention pass)
      val statePath = new org.apache.hadoop.fs.Path(stateRoot)
      val fs = statePath.getFileSystem(
        spark.sessionState.newHadoopConf())
      val gens = fs.listStatus(statePath).toSeq
        .flatMap(st => StreamingOps.parseGeneration(st.getPath.getName))
      require(gens.nonEmpty, s"no state generations under $stateRoot")
      require(gens.max >= 1L,
        "cutoff must split the fixture into two non-empty batches")
      val result = spark.read.parquet(s"$stateRoot/state_v${gens.max}")
        .select($"user_id", $"n".as("n_total"),
          round($"s", 4).cast("double").as("total_value"))
      // materialize on the EXECUTORS (localCheckpoint, not a driver
      // collect — one row per user, but the principle holds at any
      // cardinality), then delete the temp dirs: returning a lazy
      // reader over them would leak one dir per invocation across
      // bench warm+timed runs
      val snap = result.localCheckpoint(true)
      snap.orderBy($"user_id".asc)
    } finally Etl.deleteRecursively(root.toFile)
  }

  /** Streaming OHLC bars — the stateful ARGMIN/ARGMAX maintenance twin of
    * the batch `ev_ohlc`: per-(type, day) open/high/low/close/volume kept
    * as a Complete-mode streaming aggregate. min_by/max_by on the
    * (ts, event_id) struct are merge-order-invariant aggregates, so the
    * state store holds ONE cell per bar regardless of arrival order or
    * micro-batch boundaries — the property that lets a tick feed maintain
    * bars without re-sorting history. Two deliveries split at the median
    * event_id prove cross-batch merge; state is O(bars), never O(stream).
    * Oracle = the batch bar build (shared with `ev_ohlc`). */
  def ohlcBars(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = eventsDf(spark, sfDir)
    val bounds = Tables.read(spark, sfDir, "events")
      .agg(min($"event_id"), max($"event_id")).head()
    require(!bounds.isNullAt(0), "events fixture is empty")
    val mid = (bounds.getLong(0) + bounds.getLong(1)) / 2L
    val out = runStaged(spark, "ohlc",
      Seq(ev.filter($"event_id" <= mid), ev.filter($"event_id" > mid)),
      OutputMode.Complete()) { df =>
      df.groupBy($"event_type", to_date($"ts").cast("string").as("day"))
        .agg(count(lit(1)).as("n_events"),
          min_by($"value", struct($"ts", $"event_id")).as("open"),
          max($"value").as("high"),
          min($"value").as("low"),
          max_by($"value", struct($"ts", $"event_id")).as("close"),
          sum($"value".cast("decimal(20,6)")).as("vol_raw"))
    }
    out.select($"event_type", $"day", $"n_events", $"open", $"high",
        $"low", $"close",
        round($"vol_raw", 4).cast("double").as("volume"))
      .orderBy($"event_type".asc, $"day".asc)
  }

  /** STREAMING count-min-sketch maintenance — the d×w CMS count cells
    * (graft.operators.Sketches geometry, w=2048, d=4) kept as
    * Complete-mode streaming aggregation state: per-cell COUNTS are
    * sums, merge-order-invariant, so the stream maintains the
    * exact-same-cells sketch incrementally whatever the micro-batch
    * slicing — the same argument as [[hllDistinct]]'s register maxima.
    * The fixture is delivered in two halves split on ORDERKEY parity
    * (both halves hit the 5 hot keys and most buckets, so cells are
    * genuinely summed ACROSS batches, not appended), then the sink's
    * cells finalize through the shared batch estimator
    * ([[graft.operators.Sketches.cmsFinalize]]): exact top-10,
    * min-over-rows estimate, additive error bound. Oracle = the batch
    * `q_heavy_hitters_cms` SQL — stream ≡ batch, cell for cell.
    *
    * This is the 100 TB streaming-frequency shape: a feed maintains
    * ≤ d·w counters forever with no raw retention, and any consumer
    * reads heavy-hitter estimates at any time. */
  def heavyHittersCms(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val fact = graft.operators.Sketches.cmsFact(spark, sfDir)
    val out = runStaged(spark, "cms_cells",
      Seq(fact.filter($"half" === 0), fact.filter($"half" === 1)),
      OutputMode.Complete()) { df =>
      graft.operators.Sketches.cmsCells(df)
    }
    graft.operators.Sketches.cmsFinalize(spark, sfDir, out)
  }

  /** STREAMING quality-filter apply — the classifier twin of the batch
    * `text_classifier_score`, the shape a streaming ingest runs the
    * CCNet-style filter in: scoring is the SAME row-local map-only
    * column (`TextAnalysis.classifierDocScore` — zero bytes per document
    * to any exchange), and the per-language survival rollup is the SAME
    * merge-order-invariant aggregate (`classifierRollup`: counts,
    * min/max, decimal checksum sum) kept as Complete-mode streaming
    * state — O(|langs|) cells forever, whatever the micro-batch slicing.
    * The fixture is delivered in two doc_id-parity halves (both halves
    * hit every language, so every cell genuinely MERGES across batches),
    * then the sink finalizes through the shared batch code
    * (`classifierFinalize`) — stream ≡ batch, cell for cell, under the
    * same DuckDB oracle. */
  def classifierStream(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.read(spark, sfDir, "documents")
      .select($"doc_id", $"lang", $"text")
    val out = runStaged(spark, "classifier",
      Seq(docs.filter($"doc_id" % 2 === 0), docs.filter($"doc_id" % 2 === 1)),
      OutputMode.Complete()) { df =>
      graft.operators.TextAnalysis.classifierRollup(
        df.select($"lang",
          graft.operators.TextAnalysis.classifierDocScore()
            .as("score")))
    }
    graft.operators.TextAnalysis.classifierFinalize(out)
  }

  /** STREAMING apply of the TRAINED classifier — the production split of
    * the quality-filter loop made explicit: the Naive-Bayes weights are
    * FIT BATCH-SIDE (`TextAnalysis.trainedBinWeights`, the fitted-model
    * precedent — a model trains on yesterday's corpus, not inside the
    * serving stream) and the ≤ 64 quantized weights then ride the stream
    * as plan literals through the SAME row-local scoring column and the
    * SAME merge-order-invariant Complete-mode survival rollup as
    * [[classifierStream]]. Same doc_id-parity delivery split (every
    * language in both batches — cells genuinely merge), same shared
    * finalizer; oracle = the batch `text_classifier_train` SQL, so the
    * hash gate IS stream ≡ batch for the trained model end-to-end. */
  def classifierTrainStream(spark: SparkSession, sfDir: String,
      nBins: Int = 64, posLang: String = "en"): DataFrame = {
    import spark.implicits._
    val docs = Tables.read(spark, sfDir, "documents")
      .select($"doc_id", $"lang", $"text")
    val w = graft.operators.TextAnalysis
      .trainedBinWeights(docs, nBins, posLang, vsAll = false)
    val out = runStaged(spark, "classifier_train",
      Seq(docs.filter($"doc_id" % 2 === 0), docs.filter($"doc_id" % 2 === 1)),
      OutputMode.Complete()) { df =>
      graft.operators.TextAnalysis.classifierRollup(
        df.select($"lang",
          graft.operators.TextAnalysis
            .classifierDocScore(nBins, w.toIndexedSeq)
            .as("score")))
    }
    graft.operators.TextAnalysis.classifierFinalize(out)
  }

  /** Shared derivation for the lateness ENFORCEMENT twin: the
    * round-robin shard-merge replay at a micro-batch-friendly
    * granularity (`targetBatches` = 8 → ≤ 32 deliveries at any corpus
    * size), each event's lateness under Spark's ACTUAL watermark
    * arithmetic — millisecond-FLOOR event-time stats
    * (`floor(max_us/1000)`, what EventTimeStatsAccum tracks), watermark
    * for batch i = running max over batches < i minus the delay — and
    * the data-derived delay budget: the p99 DISCRETE order statistic of
    * the lateness (integer, `percentile_disc` ≡ DuckDB `quantile_disc`
    * — no interpolation, no ulp risk), floored to ms + 1 so the budget
    * strictly admits the 99th percentile. Returns the (shard, cycle)
    * sequenced events with `late_us` and the delay in ms. */
  private def latenessDerivation(spark: SparkSession, sfDir: String,
      nShards: Int, targetBatches: Long): (DataFrame, Long) = {
    // ONE derivation for the whole lateness family — the ms-floor knob
    // is the only difference from the batch audit's exact-µs arithmetic
    // (Events.latenessReplay documents the calibration); materialize
    // because the enforcement re-filters this stream ≤ 32 times
    val late = graft.operators.Events.latenessReplay(spark, sfDir,
      nShards, targetBatches, msFloor = true, materialize = true)
    val p99 = late
      .selectExpr(
        "CAST(percentile_disc(0.99) WITHIN GROUP (ORDER BY late_us)" +
          " AS LONG) AS p99")
      .head().getLong(0)
    (late, p99 / 1000L + 1L)
  }

  /** The per-type admission prediction — what `withWatermark(delay)` +
    * a per-event stateful operator MUST drop under Spark's published
    * watermark semantics: an event is dropped iff its time ≤ (watermark
    * base − delay), i.e. iff `late_us ≥ delay_ms·1000` (events before
    * any watermark exists are admitted). Shared shape with the DuckDB
    * oracle; StreamingSpec asserts the REAL stream reproduces it
    * row-for-row. */
  private[graft] def latenessPredicted(spark: SparkSession, sfDir: String,
      nShards: Int = 4, targetBatches: Long = 8L): DataFrame = {
    import spark.implicits._
    val P = graft.operators.TextAnalysis.ChecksumP
    val (late, delayMs) =
      latenessDerivation(spark, sfDir, nShards, targetBatches)
    late
      .withColumn("admitted", $"late_us" < delayMs * 1000L)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(when($"admitted", 1L).otherwise(0L)).as("n_admitted"),
        sum(when(!$"admitted", 1L).otherwise(0L)).as("n_dropped_late"),
        pmod(sum(when($"admitted", pmod($"event_id", lit(P)))
          .otherwise(0L)).cast("decimal(38,0)"),
          lit(P).cast("decimal(38,0)")).cast("long")
          .as("admitted_ids_checksum"))
      .select($"event_type", $"n_events", $"n_admitted", $"n_dropped_late",
        lit(delayMs).as("wm_delay_ms"), $"admitted_ids_checksum")
      .orderBy($"event_type".asc)
  }

  /** WATERMARK ENFORCEMENT — the `ev_lateness` recommendation made
    * LOAD-BEARING: a REAL `withWatermark` query sized by the audit's
    * p99 lateness runs over the replayed out-of-order arrival (one
    * micro-batch per (cycle, shard) batch, delivered in arrival order
    * through the file-stream source), and the declared output is what
    * the stream OBSERVED: per type, how many events the watermark
    * admitted vs dropped as late, with a mod-prime checksum of the
    * admitted ids. The DuckDB oracle computes the same numbers from the
    * batch-side PREDICTION (ms-floor watermark replay), so the hash
    * gate IS the predicted ≡ observed proof — the same move
    * `q_hilbert_write` made for the layout analysis.
    *
    * The stateful operator is `dropDuplicates(event_id)` on unique ids:
    * identity on on-time rows, so every drop is attributable to the
    * watermark alone. State is O(admitted ids) here (fixture-bounded,
    * the dedup pass-through precedent); in production the same
    * enforcement rides whatever stateful operator the pipeline already
    * runs — the point proven is the drop RULE, not the state size. */
  def latenessEnforced(spark: SparkSession, sfDir: String,
      nShards: Int = 4, targetBatches: Long = 8L): DataFrame = {
    import spark.implicits._
    val P = graft.operators.TextAnalysis.ChecksumP
    val (late, delayMs) =
      latenessDerivation(spark, sfDir, nShards, targetBatches)
    // delivery list in arrival order — (cycle, shard) lexicographic,
    // which bid = cycle·nShards + shard numbers in order (shard =
    // event_id % nShards, in [0, nShards) for the fixture's non-negative
    // ids); only non-empty batches (the stager skips an absent bid, which
    // keeps the run ≤ 32 batches). All ≤ 32 deliveries are STAGED by ONE
    // write and delivered by file RENAME, replacing the 32 filter+write
    // jobs (each of which re-scanned the checkpointed replay and emitted
    // one part-file per partition, ~1000 tiny files total) that used to
    // dominate this query's wall time.
    val deliveries = late.select($"event_id", $"ts", $"event_type",
      ($"cycle" * nShards + $"shard").as("bid"))
    val out = runStaged(spark, "lateness", deliveries.drop("bid").schema,
        OutputMode.Append())(
      stageDeliveries(deliveries, _).map(_._2)) { df =>
      df.withWatermark("ts", s"$delayMs milliseconds")
        .dropDuplicates("event_id")
    }
    val admitted = out.groupBy($"event_type")
      .agg(count(lit(1)).as("n_admitted"),
        pmod(sum(pmod($"event_id", lit(P))).cast("decimal(38,0)"),
          lit(P).cast("decimal(38,0)")).cast("long").as("cks"))
    late.groupBy($"event_type").agg(count(lit(1)).as("n_events"))
      .join(admitted, Seq("event_type"), "left_outer")
      .select($"event_type", $"n_events",
        coalesce($"n_admitted", lit(0L)).as("n_admitted"),
        ($"n_events" - coalesce($"n_admitted", lit(0L)))
          .as("n_dropped_late"),
        lit(delayMs).as("wm_delay_ms"),
        coalesce($"cks", lit(0L)).as("admitted_ids_checksum"))
      .orderBy($"event_type".asc)
  }

  /** STREAMING IVF cell maintenance — the index-freshness twin of the
    * batch `embed_kmeans_clusters` summary: the k-means model FITS
    * BATCH-SIDE (`Similarity.kmeansCentroids` — the fitted-model
    * precedent, same as [[classifierTrainStream]]'s weights), and the
    * stream keeps the per-cell population live as Complete-mode state:
    * each arriving vector assigns to its nearest centroid ROW-LOCALLY
    * (`Similarity.cellAssignCol` — centroids as plan literals, the
    * argmax folded inside the row, zero bytes per vector to any
    * exchange), and the one aggregation is the ≤ nCells count table —
    * merge-order-invariant like every Complete-mode twin here. The
    * fixture delivers in vec_id-parity halves (both hit most cells, so
    * cells genuinely SUM across batches), then finalizes through the
    * SHARED `kmeansCellReport` (empty cells 0, fitted norms). Oracle =
    * the batch `embed_kmeans_clusters` SQL verbatim — stream ≡ batch,
    * cell for cell.
    *
    * The 100 TB shape: an ingest feed maintains the IVF index's cell
    * occupancy forever with ≤ nCells counters and no raw retention —
    * the statistic that tells an ANN service when cells skewed enough
    * to re-fit. */
  def ivfCellsStream(spark: SparkSession, sfDir: String,
      nCells: Int = 16): DataFrame = {
    import spark.implicits._
    val emb = Tables.read(spark, sfDir, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("vec"))
    val cents = graft.operators.Similarity
      .kmeansCentroids(spark, sfDir, nCells)
    val out = runStaged(spark, "ivf_cells",
      Seq(emb.filter($"vec_id" % 2 === 0), emb.filter($"vec_id" % 2 === 1)),
      OutputMode.Complete()) { df =>
      df.select(graft.operators.Similarity.cellAssignCol(cents)
          .as("cell_id"))
        .groupBy($"cell_id")
        .agg(count(lit(1)).as("n_vecs"))
    }
    graft.operators.Similarity.kmeansCellReport(spark, cents,
      out.select($"cell_id", $"n_vecs"))
  }

  /** STREAMING CHANGE-FEED REPLAY — the table's history consumed as a
    * STREAM: the commit chain's change-data feed (`q_table_changes`'s
    * row-level artifacts) arrives one commit per micro-batch — the
    * ingest commit as all-inserts, the DELETE commit's tombstones, the
    * MERGE commit's update_pre/update_post pairs + inserts (the
    * OPTIMIZE commit feeds EMPTY by dataChange metadata, so it
    * delivers nothing) — and the consumer maintains the per-x8-band
    * materialized view as Complete-mode state with SIGNED sums
    * (retractions subtract, assertions add; count, key checksum and
    * hidx sum are all commutative mod-P terms, so the state is
    * merge-order- and batch-slicing-invariant). The final state must
    * equal the view computed DIRECTLY from v2's rows — the oracle IS
    * `q_cdf_refresh`'s (one SQL string, two names), so the gate proves
    * stream-replay ≡ batch-refresh ≡ direct recompute.
    *
    * The 100 TB shape: a CDF subscriber maintains any distributive
    * aggregate view of a table forever with O(groups) state and
    * O(|commit|) work per refresh, never re-reading the base — the
    * streaming half of the incremental-view story, with retraction
    * handling the batch twin's full-outer merge does positionally. */
  def cdfReplayStream(spark: SparkSession, sfDir: String,
      splitMerge: Boolean = false): DataFrame = {
    import spark.implicits._
    val R = graft.operators.RefQueries
    val E = graft.sources.Etl
    val root = E.chainFixture(spark, sfDir)
    val P = graft.operators.TextAnalysis.ChecksumP
    val ingest = E.chainReadVersion(spark, root, 0)
      .select(lit("insert").as("change_type"), $"o_orderkey", $"x8",
        $"hidx")
    def feed(v: Int) = R.chainChanges(spark, root, v)
      .select($"change_type", $"o_orderkey", $"x8", $"hidx")
    // splitMerge re-slices the MERGE commit's feed into two deliveries
    // by key parity (an update pair can straddle the boundary) — the
    // StreamingSpec invariance probe: signed-sum state must land on the
    // identical view under any batch slicing
    val mergeBatches =
      if (splitMerge)
        Seq(feed(2).filter($"o_orderkey" % 2 === 0),
          feed(2).filter($"o_orderkey" % 2 === 1))
      else Seq(feed(2))
    val out = runStaged(spark, "cdf_replay",
      Seq(ingest, feed(1)) ++ mergeBatches, OutputMode.Complete()) { df =>
      val sgn = when($"change_type".isin("delete", "update_pre"), -1L)
        .otherwise(1L)
      val sq =
        pmod($"o_orderkey", lit(P)) * pmod($"o_orderkey", lit(P)) % P
      df.groupBy(expr("x8 div 32").as("xband"))
        .agg(sum(sgn).as("n"), sum(sgn * sq).as("kck"),
          sum(sgn * pmod($"hidx", lit(P))).as("hck"))
    }
    out.filter($"n" > 0L)
      .select($"xband".cast("long").as("xband"), $"n".as("n_rows"),
        pmod($"kck", lit(P)).as("key_checksum"),
        pmod($"hck", lit(P)).as("hidx_checksum"))
      .orderBy($"xband".asc)
  }

  /** STREAMING signature-index maintenance — the ingest half of the
    * incremental-dedup loop kept live: `dedup_incremental` probes the
    * persisted minhash band-bucket index, and THIS query is what keeps
    * that index fresh as shards arrive. Each arriving document is
    * signed and banded ROW-LOCALLY (`Dedup.minhashBanded` — the fused
    * codegen'd `minhash_sig` kernel folds shingles, 16 permutation
    * minima, and the 4 band buckets inside the row; zero bytes to any
    * exchange before the one aggregation, and the batch build runs the
    * SAME kernel), and the per-(band, bsig) occupancy cells — member
    * count + mod-prime member checksum — are Complete-mode streaming
    * state: both are merge-order-invariant sums, so the stream maintains
    * the exact-same-cells index summary whatever the micro-batch slicing
    * (the `stream_ivf_cells`/`stream_hll_distinct` argument). The
    * fixture delivers in doc_id-parity halves — near-dup buckets hold
    * consecutive ids, so cells genuinely MERGE across batches
    * (StreamingSpec plants and proves one) — and the cells aggregate
    * through the SHARED `Dedup.bandCells` used on the batch index.
    * Oracle = the batch minhash banded CTE chain grouped the same way —
    * stream ≡ batch, cell for cell.
    *
    * The 100 TB shape: the signature index is the ONE table the
    * incremental dedup path reads; maintaining its occupancy as
    * streaming state (O(buckets), no raw retention) is what makes the
    * Δ-probe join's bucket statistics — skew, fill, candidate volume —
    * readable at any time without a corpus pass. */
  def minhashIndexStream(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.read(spark, sfDir, "documents")
      .select($"doc_id", $"text")
    val out = runStaged(spark, "minhash_index",
      Seq(docs.filter($"doc_id" % 2 === 0), docs.filter($"doc_id" % 2 === 1)),
      OutputMode.Complete()) { df =>
      graft.operators.Dedup.bandCells(
        graft.operators.Dedup.minhashBanded(df))
    }
    out.select($"band".cast("long").as("band"), $"bsig", $"n_docs",
        $"member_checksum")
      .orderBy($"band".asc, $"bsig".asc)
  }

  /** STREAMING signature-index FORGET — the tombstone half of the index
    * lifecycle kept live, closing the build / maintain / probe / forget
    * symmetry: `stream_minhash_index` grows the band-bucket occupancy
    * cells as documents ARRIVE; this query shrinks them as compliance
    * tombstone batches arrive. The stream signs each tombstoned doc
    * row-locally (the SAME fused `minhash_sig` kernel as every other
    * route) and maintains the DEAD-cell aggregate — per-(band, bsig)
    * tombstone count + mod-prime member checksum — as Complete-mode
    * state: both are merge-order-invariant SUMS, so however the
    * tombstone batches slice, the accumulated dead cells equal the
    * one-shot batch signing (StreamingSpec plants a cell whose dead
    * members arrive in DIFFERENT batches and proves the cross-batch
    * subtraction). The sink then finalizes through the SHARED
    * `Dedup.forgetIndexCells` subtraction against the frozen persisted
    * index — the batch `dedup_forget_index` protocol verbatim, and the
    * oracle IS that query's alive-corpus rebuild SQL: stream-subtract ≡
    * batch-subtract ≡ rebuild, cell for cell.
    *
    * The 100 TB shape: the alive corpus is never re-signed or read —
    * each arriving tombstone batch costs one row-local signing pass of
    * ITSELF, and the index summary stays continuously correct between
    * compliance batches. */
  def forgetIndexStream(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.read(spark, sfDir, "documents")
      .select($"doc_id", $"text")
    // persisted state: the full-corpus occupancy cells, built once and
    // frozen (the dedup_forget_index precedent)
    val cells = graft.operators.Dedup.bandCells(
      graft.operators.Dedup.minhashBanded(docs)).localCheckpoint(true)
    val tombs = docs.filter(
      pmod(call_function("mix64", $"doc_id"), lit(19L)) === 0L)
    val dead = runStaged(spark, "forget_index",
      Seq(tombs.filter($"doc_id" % 2 === 0),
        tombs.filter($"doc_id" % 2 === 1)),
      OutputMode.Complete()) { df =>
      graft.operators.Dedup.bandCells(
        graft.operators.Dedup.minhashBanded(df))
    }
    graft.operators.Dedup.forgetIndexCells(cells,
      dead.select($"band", $"bsig", $"n_docs", $"member_checksum"))
  }

  /** Streaming equi-width histogram + CDF — the distribution-profile
    * twin of the batch `q_histogram`: per-bucket COUNTS kept as
    * Complete-mode streaming aggregation state (counts are sums —
    * merge-order-invariant, the [[heavyHittersCms]]/[[hllDistinct]]
    * argument), so the stream maintains the exact bucket table
    * incrementally whatever the micro-batch slicing. The fixture is
    * delivered in two halves split on ORDERKEY parity (both halves
    * populate most buckets, so cells genuinely SUM across batches),
    * then the sink finalizes through the shared batch CDF code
    * ([[graft.operators.RefQueries.histFinalize]]) — stream ≡ batch,
    * bucket for bucket. Oracle = the batch `q_histogram` SQL.
    *
    * The 100 TB shape: a feed maintains ≤ range/width counters forever
    * with no raw retention, and any consumer reads the live
    * distribution (histogram, CDF, percentile estimates) at any time —
    * the zone-map statistic kept fresh by the stream itself. */
  def histogramStream(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.read(spark, sfDir, "lineitem")
      .select($"l_orderkey", $"l_extendedprice")
    val width = graft.operators.RefQueries.HistWidth
    val out = runStaged(spark, "histogram",
      Seq(li.filter($"l_orderkey" % 2 === 0),
        li.filter($"l_orderkey" % 2 === 1)),
      OutputMode.Complete()) { df =>
      df.groupBy(floor($"l_extendedprice" / width).cast("long").as("bucket"))
        .agg(count(lit(1)).as("cnt"))
    }
    graft.operators.RefQueries.histFinalize(out.select($"bucket", $"cnt"))
  }
}
