package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.GraftSession

/** Structured Streaming operators — the streaming twins of the batch
  * `graft.operators.Events` queries. The reference is purely batch
  * (SURVEY.md §2.10), so these are extension operators: `readStream` →
  * transform → `writeStream`, watermarked windowed aggregation, and a
  * `flatMapGroupsWithState` sessionizer.
  *
  * Scale stance: state is partitioned by group key across executors;
  * watermarks bound state size (late data beyond 10 min is dropped), so
  * the job's memory footprint is O(active keys), not O(stream length).
  * Tested with MemoryStream in `StreamingSpec` (no kafka in this
  * environment); in production the source/sink swap is one line each.
  */
object StreamingOps {

  /** Watermarked tumbling-window aggregation — identical groupBy to the
    * batch `Events.tumblingWindow`, plus the 10-minute watermark that lets
    * the engine finalize windows and evict their state. */
  def windowedCounts(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "1 hour"), $"event_type")
      // decimal sum like the batch twin: a double sum's last ulp depends
      // on merge order, which would break the oracle hash gate
      .agg(count(lit(1)).as("cnt"),
        round(sum($"value".cast("decimal(20,6)")), 4).cast("double")
          .as("sum_value"))
      .select($"window.start".as("hour_start"), $"event_type", $"cnt",
        $"sum_value")
  }

  /** Watermarked stream-stream join: each purchase joined to the clicks by
    * the same user in the preceding 30 minutes. Both sides carry
    * watermarks and the join condition bounds event-time distance, so the
    * engine can evict buffered rows once the watermark passes — state is
    * O(30 min of stream) per side, not unbounded. */
  def clickAttribution(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.withWatermark("c_ts", "10 minutes")
    val p = purchases.withWatermark("p_ts", "10 minutes")
    p.join(c, expr("""
      p_user = c_user AND
      c_ts <= p_ts AND c_ts >= p_ts - interval 30 minutes"""))
  }

  /** Stream-static enrichment join — the "attach dimension metadata to
    * the event stream" pattern: each micro-batch of the stream joins a
    * STATIC dimension. Stateless (the static side is fixed for the
    * query's lifetime, so no watermark or join state is needed), and the
    * broadcast hint keeps the stream side shuffle-free per micro-batch —
    * at scale this is a map-side lookup on every executor, the streaming
    * sibling of `q4_distance_broadcast`. */
  def enrichWithDim(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim),
      events("user_id") === dim("c_custkey"), "left_outer")
      .drop("c_custkey")

  /** Streaming keep-first dedup on event_id within the watermark horizon:
    * state is bounded by the watermark. Guarantees exactly-once only for
    * duplicates that carry the original event time (or arrive inside the
    * horizon); a duplicate redelivered with a *fresh* event time after its
    * id was evicted is re-emitted — beyond-horizon redelivery degrades to
    * at-least-once, the standard dropDuplicatesWithinWatermark contract.
    * The streaming twin of the batch `Dedup.exactDedup` keep-first
    * semantics. */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  final case class Ev(user_id: Long, ts: java.sql.Timestamp, value: Double)
  final case class SessionState(nEvents: Long, totalValue: Double,
    lastEventUs: Long)
  final case class SessionUpdate(user_id: Long, n_events: Long,
    total_value: Double, closed: Boolean)

  /** Epoch MICROS of a Timestamp — `getTime` alone floors to millis and
    * could merge sessions whose gap exceeds the threshold by < 1 ms,
    * diverging from the batch twin's `unix_micros` comparison. Shared
    * with StreamingQueries' sentinel/cutoff arithmetic and the typed
    * batch sessionizer `Events.sessionizeTyped` — one formula, not
    * copies to drift apart. */
  private[graft] def micros(ts: java.sql.Timestamp): Long =
    (ts.getTime - ts.getNanos / 1000000) * 1000L + ts.getNanos / 1000

  /** Event-time sessionization with a gap timeout via
    * `flatMapGroupsWithState` — the streaming counterpart of the batch
    * lag+running-sum sessionizer (`Events.sessionize`). Emits a closed
    * session when the event-time watermark passes lastEvent+gap. Gap
    * comparisons are in MICROS, matching the batch twin exactly; only
    * the timeout timestamp (an eviction trigger, not a session-boundary
    * decision) rounds up to the engine's millisecond clock. */
  def sessionize(events: Dataset[Ev], gapMinutes: Int = 30)
      : Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60L * 1000000L

    def update(userId: Long, rows: Iterator[Ev],
        state: GroupState[SessionState]): Iterator[SessionUpdate] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator(SessionUpdate(userId, s.nEvents, s.totalValue, closed = true))
      } else {
        val sorted = rows.toSeq.sortBy(e => micros(e.ts))
        var emitted = List.empty[SessionUpdate]
        var cur = state.getOption
        sorted.foreach { ev =>
          val t = micros(ev.ts)
          cur match {
            case Some(s) if t - s.lastEventUs > gapUs =>
              // gap exceeded inside the batch: close the old session
              emitted ::= SessionUpdate(userId, s.nEvents, s.totalValue,
                closed = true)
              cur = Some(SessionState(1L, ev.value, t))
            case Some(s) =>
              cur = Some(SessionState(s.nEvents + 1, s.totalValue + ev.value,
                math.max(s.lastEventUs, t)))
            case None =>
              cur = Some(SessionState(1L, ev.value, t))
          }
        }
        cur.foreach { s =>
          state.update(s)
          // ceil to ms: firing a fraction of a ms late never closes a
          // session early; truncating could fire before lastEvent+gap
          state.setTimeoutTimestamp((s.lastEventUs + gapUs + 999L) / 1000L)
        }
        emitted.reverseIterator
      }
    }

    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(update)
  }

  final case class Cdc(user_id: Long, event_id: Long, ts: java.sql.Timestamp,
    event_type: String)
  final case class Latest(user_id: Long, last_event_id: Long,
    last_ts: java.sql.Timestamp, last_event_type: String, n_versions: Long)

  /** Streaming upsert view — the streaming twin of the batch
    * `Events.cdcCompact`: `mapGroupsWithState` keeps the latest record
    * per key ("last writer wins" on (ts, event_id)) plus a version
    * count, re-emitting the key's current value each micro-batch it
    * changes (Update output mode). State is O(live keys) — the size of
    * the materialized upsert table itself, the minimum any CDC
    * materialization holds; no timeout because a key's latest value
    * never expires. */
  def latestPerKey(events: Dataset[Cdc]): Dataset[Latest] = {
    import events.sparkSession.implicits._
    def update(userId: Long, rows: Iterator[Cdc],
        state: GroupState[Latest]): Latest = {
      var cur = state.getOption
      rows.foreach { e =>
        cur = cur match {
          case Some(l) =>
            // Timestamp.compareTo keeps sub-millisecond precision —
            // getTime truncates to ms and would tie-break differently
            // from the batch twin's full-precision (ts, event_id) order
            val cmp = e.ts.compareTo(l.last_ts)
            val newer = cmp > 0 || (cmp == 0 && e.event_id > l.last_event_id)
            val bumped =
              if (newer) Latest(userId, e.event_id, e.ts, e.event_type,
                l.n_versions + 1)
              else l.copy(n_versions = l.n_versions + 1)
            Some(bumped)
          case None =>
            Some(Latest(userId, e.event_id, e.ts, e.event_type, 1L))
        }
      }
      state.update(cur.get)
      cur.get
    }
    events.groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(update)
  }

  /** `state_v<N>` directory-name parse, shared by the retention pruner
    * below and StreamingQueries' generation reader — ONE definition of
    * "which directories are generations", so a future change (e.g.
    * overflow-safe parse) cannot leave the reader and the pruner
    * disagreeing. The nonEmpty guard matters: a dir named exactly
    * "state_v" passes forall(_.isDigit) vacuously and "".toLong throws. */
  private[streaming] def parseGeneration(name: String): Option[Long] = {
    val suffix = name.stripPrefix("state_v")
    if (name.startsWith("state_v") && suffix.nonEmpty &&
        suffix.forall(_.isDigit) && suffix.length <= 18)
      Some(suffix.toLong)
    else None
  }

  /** Streaming incremental aggregation via `foreachBatch` — the
    * production pattern behind the batch `Events.incrementalAgg`: each
    * micro-batch's per-user (count, decimal-sum) partials merge into a
    * persisted state table. GENERATIONAL state dirs (`state_v<batchId>`)
    * make the merge idempotent: a replayed micro-batch after a crash
    * rewrites the same generation from the same predecessor instead of
    * double-counting — foreachBatch's at-least-once redelivery composes
    * to exactly-once because generation N is a pure function of
    * (generation N-1, batch N). That composition REQUIRES durable batch
    * ids, so the query checkpoints under `stateRoot/_checkpoint` (same
    * durability domain as the state itself): a restarted query resumes
    * its batch numbering instead of starting a fresh temp checkpoint at
    * batch 0 — which would take the delta-only branch and silently reset
    * the totals. In production the state table is a MERGE INTO target;
    * the generational parquet dir is the dependency-free equivalent.
    * The query starts inside [[GraftSession.withConfs]] with the
    * shared executor class loader, so its batches compile once per JVM. */
  def incrementalAggSink(events: DataFrame, stateRoot: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.DataFrame
    GraftSession.withConfs(events.sparkSession,
        GraftSession.sharedExecutor) {
      events.writeStream
        .outputMode(OutputMode.Update)
        .option("checkpointLocation", s"$stateRoot/_checkpoint")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val sp = batch.sparkSession
          import sp.implicits._
          // the sum's raw type is decimal(30,6); cast back so batch 0
          // (which writes the bare delta) has the same schema as every
          // later generation — no drift across generation dirs
          val delta = batch.groupBy($"user_id")
            .agg(count(lit(1)).as("n"),
              sum($"value".cast("decimal(20,6)"))
                .cast("decimal(20,6)").as("s"))
          val prevPath = new org.apache.hadoop.fs.Path(
            s"$stateRoot/state_v${batchId - 1}")
          // Hadoop FS, not java.io.File: stateRoot may be hdfs://s3a://;
          // and a MISSING predecessor for batchId > 0 must fail loudly —
          // silently merging delta-only would reset the running totals,
          // which is exactly the wrong-totals bug the generational design
          // exists to prevent. (batchId 0 legitimately has no predecessor.)
          val fs = prevPath.getFileSystem(
            sp.sessionState.newHadoopConf())
          val merged =
            if (batchId == 0L) delta
            else if (!fs.exists(prevPath))
              throw new IllegalStateException(
                s"incrementalAggSink: predecessor generation $prevPath " +
                  s"missing for batch $batchId — refusing to reset totals")
            else sp.read.parquet(prevPath.toString).union(delta)
              .groupBy($"user_id")
              .agg(sum($"n").as("n"),
                sum($"s").cast("decimal(20,6)").as("s"))
          merged.write.mode("overwrite")
            .parquet(s"$stateRoot/state_v$batchId")
          // Retention: a replay of batch N (at-least-once redelivery)
          // reads only generation N-1, so once N is durably written every
          // generation <= N-2 is dead — prune it or storage grows with
          // batch count forever on a long-running query.
          val root = new org.apache.hadoop.fs.Path(stateRoot)
          if (fs.exists(root)) fs.listStatus(root).foreach { st =>
            if (parseGeneration(st.getPath.getName)
                .exists(_ <= batchId - 2))
              fs.delete(st.getPath, true): Unit
          }
        }
        .start()
    }
  }
}
