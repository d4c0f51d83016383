package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import java.sql.Timestamp

/** Event-stream analytics over the batch `events` table — the batch twins
  * of the Structured Streaming operators in `graft.streaming` (same
  * windowing semantics; streaming adds watermarks on top).
  */
object Events {

  /** Tumbling 1-hour windowed aggregation via the built-in `window()`
    * grouping — the exact groupBy a `readStream` version would use.
    * Scale: one shuffle on (window, event_type); partial aggregation
    * happens map-side, so the exchange carries only per-(hour,type) rows. */
  def tumblingWindow(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.read(spark, sfDir, "events")
      .groupBy(window($"ts", "1 hour"), $"event_type")
      // decimal sum: order-independent (a double sum's last ulp depends on
      // partition merge order — see RefQueries.qSkewJoin)
      .agg(count(lit(1)).as("cnt"),
        round(sum($"value".cast("decimal(20,6)")), 4).cast("double")
          .as("sum_value"))
      .select($"window.start".cast("string").as("hour_start"),
        $"event_type", $"cnt", $"sum_value")
      .orderBy($"hour_start".asc, $"event_type".asc)
  }

  /** Sliding-window aggregation: 1-hour windows every 30 minutes — each
    * event lands in 2 windows. Spark's `window()` does the fan-out
    * natively; the oracle reproduces it by unnesting the two candidate
    * window starts per event. Scale: output is 2× the tumbling case but
    * the shuffle still carries only (window, type) partial aggregates. */
  def slidingWindow(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.read(spark, sfDir, "events")
      .groupBy(window($"ts", "1 hour", "30 minutes"), $"event_type")
      .agg(count(lit(1)).as("cnt"),
        round(sum($"value".cast("decimal(20,6)")), 4).cast("double")
          .as("sum_value"))
      .select($"window.start".cast("string").as("win_start"),
        $"event_type", $"cnt", $"sum_value")
      .orderBy($"win_start".asc, $"event_type".asc)
  }

  /** Pivot (wide counts): events per user × type as columns. The value
    * list is explicit — an unlisted-values pivot needs a distinct-scan
    * job first (a hidden driver round-trip at scale). Missing combos are
    * 0, not null, to match conditional-aggregation semantics. */
  def pivotCounts(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.read(spark, sfDir, "events")
      .groupBy($"user_id")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .count()
      .na.fill(0L)
      .orderBy($"user_id".asc)
  }

  /** Partition-pruned scan over the date-partitioned events copy
    * (`Etl.eventsByDayFixture`, `event_date=YYYY-MM-DD/` layout): the
    * one-week filter is resolved against the directory listing at plan
    * time (`PartitionFilters`, asserted in PlanSpec), so 23 of 30 daily
    * partitions are never opened. At 100 TB this is the difference
    * between reading ~23 TB and reading ~5 TB for the same answer —
    * partition layout is the highest-leverage pruning there is. */
  def partitionedScan(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(graft.sources.Etl.eventsByDayFixture(spark, sfDir))
      .filter($"event_date".between("2024-01-08", "2024-01-14"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("cnt"),
        round(sum($"value".cast("decimal(20,6)")), 4).cast("double")
          .as("sum_value"))
      .orderBy($"event_type".asc)
  }

  /** Cohort retention — the standard activity-analytics matrix: users
    * grouped by first-seen date (cohort), counted by distinct activity at
    * each day offset from that cohort date. Two hash aggregates (per-user
    * min date; per-(cohort, offset) distinct users) and one shuffle join
    * back on user_id — no self-join over events, which is what makes the
    * shape linear at 100 TB. */
  def retention(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.read(spark, sfDir, "events")
      .select($"user_id", $"ts".cast("date").as("day"))
    val cohort = ev.groupBy($"user_id").agg(min($"day").as("cohort_day"))
    ev.join(cohort, Seq("user_id"))
      .withColumn("day_offset", datediff($"day", $"cohort_day").cast("long"))
      .groupBy($"cohort_day", $"day_offset")
      .agg(countDistinct($"user_id").as("n_users"))
      .select($"cohort_day".cast("string").as("cohort_day"), $"day_offset",
        $"n_users")
      .orderBy($"cohort_day".asc, $"day_offset".asc)
  }

  /** Funnel analysis: per-user click → purchase conversion. One scan,
    * one conditional-aggregation group-by per user (min event time per
    * step), then a tiny global rollup — the standard funnel shape that
    * needs no self-join. */
  def funnel(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val perUser = Tables.read(spark, sfDir, "events")
      .groupBy($"user_id")
      .agg(
        min(when($"event_type" === "click", unix_micros($"ts"))).as("first_click"),
        max(when($"event_type" === "purchase", unix_micros($"ts"))).as("last_purchase"))
    perUser.agg(
      count(lit(1)).as("n_users"),
      count($"first_click").as("n_clickers"),
      count(when($"last_purchase" > $"first_click", 1)).as("n_converted"),
      round(
        count(when($"last_purchase" > $"first_click", 1)).cast("double") /
          greatest(count($"first_click"), lit(1)), 4).as("conversion"))
  }

  /** Event-time range join, binned: count pairs of events by the same
    * user within `windowSec` of each other. A naive `|a.ts - b.ts| <= w`
    * join plans as a nested-loop at any scale; binning time into
    * `windowSec` buckets and replicating one side to its 3 neighboring
    * buckets turns it into a hash equi-join on (user, bucket) + a cheap
    * residual filter — each qualifying pair matches in exactly one
    * bucket (the right side's), so no dedup pass is needed.
    * Oracle: DuckDB's native inequality join (IEJoin) — an independent
    * algorithm for the same semantics. */
  def rangeJoinBinned(spark: SparkSession, sfDir: String,
      windowSec: Int = 60): DataFrame = {
    import spark.implicits._
    val winUs = windowSec * 1000000L
    val ev = Tables.read(spark, sfDir, "events")
      .select($"user_id", $"event_id", unix_micros($"ts").as("us"))
      .withColumn("bucket", expr(s"us div $winUs"))
    val a = ev.select($"user_id", $"event_id".as("a_id"), $"us".as("a_us"),
      explode(array($"bucket" - 1, $"bucket", $"bucket" + 1)).as("bucket"))
    val b = ev.select($"user_id", $"event_id".as("b_id"), $"us".as("b_us"),
      $"bucket")
    a.join(b, Seq("user_id", "bucket"))
      .filter($"a_id" < $"b_id" && abs($"a_us" - $"b_us") <= winUs)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy($"user_id".asc)
  }

  /** Native range join — identical semantics to `rangeJoinBinned`, but
    * planned by the first-class `RangeJoinExec` operator (custom
    * LogicalPlan + SparkStrategy + physical node, graft.plans.RangeJoin):
    * one hash-partition of each side instead of the 3-way bucket explode,
    * a per-key two-pointer merge instead of post-join window filtering.
    * Same oracle as the binned variant (DuckDB's native IEJoin). The two
    * sides are separate scans so attribute ids stay distinct. */
  def rangeJoinNative(spark: SparkSession, sfDir: String,
      windowSec: Int = 60): DataFrame = {
    import spark.implicits._
    val a = Tables.read(spark, sfDir, "events")
      .select($"user_id", $"event_id".as("a_id"), unix_micros($"ts").as("a_us"))
    val b = Tables.read(spark, sfDir, "events")
      .select($"user_id".as("ub"), $"event_id".as("b_id"),
        unix_micros($"ts").as("b_us"))
    graft.plans.RangeJoin.join(a, b, "user_id", "ub", "a_us", "b_us",
        windowSec * 1000000L)
      .filter($"a_id" < $"b_id")
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy($"user_id".asc)
  }

  /** As-of (backward) join composed from built-ins — for each 'purchase'
    * event, the most recent 'click' by the same user at or before it.
    * Spark has no ASOF JOIN operator; per the extension preference order
    * this composes existing ops before reaching for a custom SparkPlan:
    * tag both sides, union, one window sorted by (ts, side) per user, and
    * carry the last non-null click forward (`last(..., ignoreNulls)` over
    * an unbounded-preceding frame). The oracle is DuckDB's *native*
    * `ASOF LEFT JOIN` — an independent implementation of the semantics.
    *
    * Scale: exactly one hash-partition-by-user exchange + per-partition
    * sort — the same cost as a sort-merge join on user_id; no row
    * explosion, no range cross-product. */
  def asofJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.read(spark, sfDir, "events")
      .filter($"event_type".isin("click", "purchase"))
      .withColumn("side", when($"event_type" === "click", 0).otherwise(1))
      .withColumn("us", unix_micros($"ts"))
      .withColumn("click_id_src", when($"side" === 0, $"event_id"))
      .withColumn("click_us_src", when($"side" === 0, $"us"))
    // clicks sort before purchases on (impossible-in-data) ts ties so an
    // equal-timestamp click still qualifies (ASOF's ts >= click_ts);
    // event_id breaks same-side ts ties so the picked click_id is
    // deterministic across runs (and matches DuckDB ASOF's choice)
    val w = Window.partitionBy($"user_id")
      .orderBy($"us".asc, $"side".asc, $"event_id".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("click_id", last($"click_id_src", ignoreNulls = true).over(w))
      .withColumn("click_us", last($"click_us_src", ignoreNulls = true).over(w))
      .filter($"side" === 1)
      .select($"event_id", $"user_id", $"ts".cast("string").as("ts_s"),
        $"click_id", ($"us" - $"click_us").as("gap_us"))
      .orderBy($"event_id".asc)
  }

  /** Native as-of join — identical semantics to `asofJoin`, planned by
    * the first-class `AsOfJoinExec` operator (graft.plans.AsOfJoin):
    * each side keeps its own scan, co-partitioned and sorted SMJ-style,
    * and the per-key merge holds O(1) state (just the current best
    * match) instead of windowing a unioned stream. `click_id` is the
    * deterministic tie-breaker for equal-timestamp clicks. Same DuckDB
    * ASOF oracle as the composed variant.
    *
    * Measured note: for THIS shape (both sides filtered from one table)
    * the composed variant wins — one scan, one exchange vs two — and is
    * the recommended plan; see graft.plans.AsOfJoin's scaladoc for when
    * the native operator is the right tool (distinct inputs). */
  def asofJoinNative(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val p = Tables.read(spark, sfDir, "events")
      .filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts", unix_micros($"ts").as("us"))
    val c = Tables.read(spark, sfDir, "events")
      .filter($"event_type" === "click")
      .select($"user_id".as("cu"), $"event_id".as("click_id"),
        unix_micros($"ts").as("click_us"))
    graft.plans.AsOfJoin.join(p, c, "user_id", "cu", "us", "click_us",
        tieBreak = Seq("click_id"))
      .select($"event_id", $"user_id", $"ts".cast("string").as("ts_s"),
        $"click_id", ($"us" - $"click_us").as("gap_us"))
      .orderBy($"event_id".asc)
  }

  /** Typed mapGroups sessionization — same semantics as `sessionize` but
    * as an imperative per-user walk (the direct batch analog of the
    * streaming `flatMapGroupsWithState` state machine). The per-user event
    * list is sorted in memory: bounded by events-per-user, which is the
    * same bound the window-function variant's per-partition sort pays.
    * Same oracle as `sessionize`. */
  def sessionizeTyped(spark: SparkSession, sfDir: String,
      gapMinutes: Int = 30): DataFrame = {
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    // microsecond precision, matching the window variant's unix_micros
    import graft.streaming.StreamingOps.micros
    Tables.read(spark, sfDir, "events")
      .select($"user_id", $"event_id", $"ts", $"value")
      .as[(Long, Long, Timestamp, Double)]
      .groupByKey(_._1)
      .mapGroups { (userId, rows) =>
        val evs = rows.toArray.sortBy(r => (micros(r._3), r._2))
        var nSessions = 0L
        var lastUs = Long.MinValue
        // micro-unit long accumulator (each value quantized exactly like a
        // decimal(20,6) cast): order-independent, so the total matches the
        // declarative variant's decimal sum bit-for-bit
        var totalMicros = 0L
        evs.foreach { case (_, _, ts, v) =>
          val t = micros(ts)
          if (lastUs == Long.MinValue || t - lastUs > gapUs) nSessions += 1
          lastUs = t
          totalMicros += BigDecimal(v)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP)
            .underlying.movePointRight(6).longValueExact
        }
        (userId, nSessions, evs.length.toLong,
          BigDecimal(java.math.BigDecimal.valueOf(totalMicros, 6))
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      .toDF("user_id", "n_sessions", "n_events", "total_value")
      .orderBy($"user_id".asc)
  }

  /** Batch sessionization: 30-minute-gap sessions per user via lag +
    * running sum — the batch twin of the `flatMapGroupsWithState`
    * sessionizer in `graft.streaming.Sessionize`.
    * Scale: both windows share one hash-partition-by-user exchange; the
    * per-user sort is local to each partition. */
  def sessionize(spark: SparkSession, sfDir: String,
      gapMinutes: Int = 30): DataFrame = {
    import spark.implicits._
    val gapMicros = gapMinutes * 60L * 1000000L
    val byUser = Window.partitionBy($"user_id")
      .orderBy($"ts".asc, $"event_id".asc)
    Tables.read(spark, sfDir, "events")
      .withColumn("prev_us", lag(unix_micros($"ts"), 1).over(byUser))
      .withColumn("new_session",
        when($"prev_us".isNull ||
          unix_micros($"ts") - $"prev_us" > gapMicros, 1).otherwise(0))
      .withColumn("session_id",
        sum($"new_session").over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"user_id")
      .agg(max($"session_id").as("n_sessions"),
        count(lit(1)).as("n_events"),
        round(sum($"value".cast("decimal(20,6)")), 4).cast("double")
          .as("total_value"))
      .orderBy($"user_id".asc)
  }

  /** CDC compaction — collapse a change log to the latest record per key,
    * the upsert-table maintenance pass every incremental pipeline runs.
    * Planned as an ARGMAX AGGREGATE (`max_by` on the (ts, event_id)
    * struct), not a window: partial aggregation collapses each map task
    * to one (count, argmax) cell per key before the exchange, and no
    * per-key sort ever happens — strictly better than the
    * row_number-over-window shape at scale (that one must shuffle and
    * sort EVERY version; this shuffles one row per key per map task).
    * (ts, event_id) struct ordering is the deterministic CDC
    * "last writer wins" rule. */
  def cdcCompact(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.read(spark, sfDir, "events")
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_versions"),
        max_by(struct($"event_id", $"event_type",
          $"ts".cast("string").as("ts")),
          struct($"ts", $"event_id")).as("last"))
      .select($"user_id", $"n_versions",
        $"last.event_id".as("last_event_id"),
        $"last.event_type".as("last_event_type"),
        $"last.ts".as("last_ts"))
      .orderBy($"user_id".asc)
  }

  /** Incremental aggregation — the state + delta merge an hourly/daily
    * pipeline runs instead of recomputing history: per-user partial
    * aggregates over the OLD range (the persisted state) full-outer-merged
    * with partials over the NEW range. (count, decimal-sum) partials are
    * the canonical mergeable pair — the merge is exact, which the oracle
    * proves by computing the SAME totals from scratch in one pass.
    * Scale: history is never rescanned in production (state is a table);
    * here both halves read the fixture with the cutoff pushed down, and
    * each half is one partial-agg shuffle of its own range only. */
  def incrementalAgg(spark: SparkSession, sfDir: String,
      cutoff: String = "2024-01-20 00:00:00"): DataFrame = {
    import spark.implicits._
    val ev = Tables.read(spark, sfDir, "events")
      .select($"user_id", $"ts", $"value")
    val cut = lit(cutoff).cast("timestamp")
    def part(df: DataFrame): DataFrame = df.groupBy($"user_id")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast("decimal(20,6)")).as("s"))
    val state = part(ev.filter($"ts" < cut))
      .select($"user_id", $"n".as("n_state"), $"s".as("s_state"))
    val delta = part(ev.filter($"ts" >= cut))
      .select($"user_id", $"n".as("n_delta"), $"s".as("s_delta"))
    state.join(delta, Seq("user_id"), "full_outer")
      .select($"user_id",
        coalesce($"n_state", lit(0L)).as("n_state"),
        coalesce($"n_delta", lit(0L)).as("n_delta"),
        (coalesce($"n_state", lit(0L)) + coalesce($"n_delta", lit(0L)))
          .as("n_total"),
        round(coalesce($"s_state", lit(0).cast("decimal(20,6)")) +
          coalesce($"s_delta", lit(0).cast("decimal(20,6)")), 4)
          .cast("double").as("total_value"))
      .orderBy($"user_id".asc)
  }

  /** SCD2 interval versioning — the type-2 slowly-changing-dimension
    * build every warehouse runs on a change log: consecutive runs of
    * the same event_type per user (in (ts, event_id) order) collapse
    * into VERSION rows with [valid_from, valid_to) validity intervals,
    * the last version open-ended (`is_current`). `ev_cdc_compact` keeps
    * only the latest state; this keeps the full history as intervals —
    * the point-in-time-joinable form.
    *
    * Classic gaps-and-islands: change flag from lag(), island id as
    * the running sum of flags, one aggregate per island, then
    * valid_to stitched from the NEXT island's start via lead() over
    * the (already ≤ |islands|-sized) version rows. Scale: both
    * windows and the aggregate partition by user_id — ONE data-sized
    * exchange reused across all three (the window sort and the
    * partial-combined island aggregate share it); nothing global.
    * Determinism: (ts, event_id) totally orders each user's log;
    * island numbering is a running count of integer flags; timestamps
    * export as strings. */
  def scd2(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val byTs = Window.partitionBy($"user_id")
      .orderBy($"ts".asc, $"event_id".asc)
    val versions = Tables.read(spark, sfDir, "events")
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("chg",
        when(lag($"event_type", 1).over(byTs).isNull ||
          lag($"event_type", 1).over(byTs) =!= $"event_type", 1L)
          .otherwise(0L))
      .withColumn("version_no", sum($"chg").over(
        byTs.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"user_id", $"version_no")
      .agg(min($"event_type").as("event_type"), // constant per island
        min($"ts").as("from_ts"), count(lit(1)).as("n_events"))
    val byVer = Window.partitionBy($"user_id").orderBy($"version_no".asc)
    versions
      .withColumn("to_ts", lead($"from_ts", 1).over(byVer))
      .select($"user_id", $"version_no", $"event_type",
        $"from_ts".cast("string").as("valid_from"),
        $"to_ts".cast("string").as("valid_to"),
        $"n_events", $"to_ts".isNull.as("is_current"))
      .orderBy($"user_id".asc, $"version_no".asc)
  }

  /** Event-type transition matrix — first-order Markov mining over each
    * user's event stream: for every consecutive (event, next event) pair
    * in (ts, event_id) order, the count and the row-normalized
    * transition probability. The sequence-mining primitive behind
    * session-flow analysis, next-event prediction features, and funnel
    * discovery (ev_funnel checks ONE hand-picked path; this surfaces
    * all of them).
    *
    * Scale: the only data-sized exchange is the per-user window (hash
    * partition by user_id + in-partition sort); `lead(1)` keeps O(1)
    * state per row. The pair stream then collapses map-side to at most
    * |types|² rows, and the row-normalizing totals join is a
    * few-row broadcast — the corpus never shuffles twice. Determinism:
    * (ts, event_id) is a total order per user, counts are integers, and
    * the probability is one double division rounded. */
  def transitionMatrix(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    val pairs = Tables.read(spark, sfDir, "events")
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("to_type", lead($"event_type", 1).over(w))
      .where($"to_type".isNotNull)
      .select($"event_type".as("from_type"), $"to_type")
    val counts = pairs.groupBy($"from_type", $"to_type")
      .agg(count(lit(1)).as("cnt"))
    val totals = counts.groupBy($"from_type").agg(sum($"cnt").as("total"))
    counts.join(broadcast(totals), Seq("from_type"))
      .select($"from_type", $"to_type", $"cnt",
        round($"cnt".cast("double") / $"total", 4).as("prob"))
      .orderBy($"from_type".asc, $"to_type".asc)
  }

  /** Robust anomaly counting per event type — median + MAD (median
    * absolute deviation), the outlier rule that survives the outliers
    * themselves (a mean/stddev z-score moves with every anomaly it is
    * trying to flag; the median moves with none of them). An event is
    * anomalous when |v − median| > 3·1.4826·MAD (1.4826 scales MAD to
    * σ under normality — the standard consistency constant).
    *
    * Scale: two exact-percentile aggregations over the corpus (the same
    * sort-based `percentile` as qQuantiles — per-group value sets up to
    * a partition's worth; past that `approx_percentile` is the drop-in,
    * measured in q_quantiles_approx) and two broadcast joins of the
    * few-row stats — the fact table itself never shuffles for the
    * stats. Determinism: med/MAD are rounded to 4 dp BEFORE
    * thresholding so the flag compares identical doubles on both
    * engines; the outlier count is an integer. */
  def anomalyMad(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.read(spark, sfDir, "events")
      .select($"event_type", $"value".cast("double").as("v"))
    val med = ev.groupBy($"event_type")
      .agg(round(expr("percentile(v, 0.5)"), 4).as("med"))
    val withMed = ev.join(broadcast(med), Seq("event_type"))
      .withColumn("adev", abs($"v" - $"med"))
    val mad = withMed.groupBy($"event_type")
      .agg(round(expr("percentile(adev, 0.5)"), 4).as("mad"))
    withMed.join(broadcast(mad), Seq("event_type"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("cnt"),
        min($"med").as("med"), min($"mad").as("mad"),
        sum(when($"adev" > $"mad" * lit(4.4478), 1L).otherwise(0L))
          .as("n_outliers"))
      .select($"event_type", $"cnt", $"med", $"mad", $"n_outliers",
        round($"n_outliers".cast("double") / $"cnt", 4).as("outlier_rate"))
      .orderBy($"event_type".asc)
  }

  /** Attribution horizon in minutes — shared with the DuckDB oracle. */
  val AttribHorizonMin = 60L

  /** Last-touch conversion attribution: each purchase is credited to the
    * user's most recent click STRICTLY before it, and counts as
    * attributed only when that click falls within [[AttribHorizonMin]].
    * The batch twin of the streaming `clickAttribution` join, with the
    * semantics marketing rollups actually use — last-touch, horizon-
    * bounded, exactly one credit per conversion (a plain interval join
    * credits every click in the window).
    *
    * Scale: ONE shuffle of the events table (the per-user window that
    * carries the last-click timestamp forward via last(ignoreNulls) —
    * the same O(1)-state forward scan as the as-of join); the daily
    * rollup partial-aggregates map-side to ≤ days rows. Deterministic:
    * (ts, event_id) total order; money sums in decimal. */
  def attribution(spark: SparkSession, sfDir: String,
      horizonMin: Long = AttribHorizonMin): DataFrame = {
    import spark.implicits._
    val ev = Tables.read(spark, sfDir, "events")
      .select($"user_id", $"ts", $"event_id", $"event_type", $"value")
      .filter($"event_type".isin("click", "purchase"))
    val wU = Window.partitionBy($"user_id")
      .orderBy($"ts".asc, $"event_id".asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val conv = ev
      .withColumn("click_t",
        when($"event_type" === "click", unix_micros($"ts")))
      .withColumn("last_click", last($"click_t", ignoreNulls = true).over(wU))
      .filter($"event_type" === "purchase")
      .withColumn("attributed",
        $"last_click".isNotNull &&
          (unix_micros($"ts") - $"last_click") <= horizonMin * 60000000L)
    conv.groupBy(to_date($"ts").cast("string").as("day"))
      .agg(count(lit(1)).as("n_conversions"),
        sum(when($"attributed", 1L).otherwise(0L)).as("n_attributed"),
        round(sum(when($"attributed", $"value").otherwise(lit(0.0))
          .cast("decimal(20,6)")), 4).cast("double").as("attributed_value"))
      .orderBy($"day".asc)
  }

  /** Peak detection — strict local maxima in each type's daily count
    * series (cnt > both neighbors; series endpoints excluded), the
    * change-point primitive behind every "what spiked on Tuesday?"
    * alert. One map-side-combined daily aggregate, one per-type window
    * pass with lag/lead — integer comparisons only, nothing to round.
    *
    * Scale: the raw stream collapses to type·day rows before the
    * window; each partition is one type's calendar (bounded by days,
    * not volume). */
  def peakDetection(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.read(spark, sfDir, "events")
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy($"event_type").orderBy($"day".asc)
    daily
      .withColumn("prev", lag($"cnt", 1).over(w))
      .withColumn("next", lead($"cnt", 1).over(w))
      .filter($"prev".isNotNull && $"next".isNotNull &&
        $"cnt" > $"prev" && $"cnt" > $"next")
      .select($"event_type", $"day".cast("string").as("day"), $"cnt",
        $"prev", $"next")
      .orderBy($"event_type".asc, $"day".asc)
  }

  /** Dynamic partition pruning — the RUNTIME pruning tier above
    * [[partitionedScan]]'s plan-time static pruning: the fact side is
    * the date-partitioned events copy, the dim side a small
    * parquet-backed date dimension carrying a NON-partition attribute
    * (`week_tag`), and the query filters on that attribute — so the set
    * of surviving partitions is unknowable at plan time and Catalyst
    * must inject a `DynamicPruningExpression` subquery into the fact
    * scan (reusing the dim's broadcast) that prunes partitions at RUN
    * time. At 100 TB this is the difference between scanning a month
    * and scanning a week when the date list comes from a lookup, not a
    * literal — the fact scan reads only the ~7/30 partitions the
    * broadcast produced. PlanSpec asserts the pruning subquery is
    * actually in the scan; a regression to scan-all would still return
    * correct rows, which is exactly why the plan guard exists. */
  def dppJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // parquet-backed dim (a LocalRelation would constant-fold the date
    // list back into a static filter and bypass the dynamic path):
    // 25 nation rows → 25 consecutive dates, one week tagged 'target'
    val dim = Tables.read(spark, sfDir, "nation")
      .select(date_format(date_add(lit("2024-01-01").cast("date"),
        col("n_nationkey").cast("int")), "yyyy-MM-dd").as("event_date"),
        when(col("n_nationkey").between(7, 13), lit("target"))
          .otherwise(lit("other")).as("week_tag"))
    val fact = spark.read
      .parquet(graft.sources.Etl.eventsByDayFixture(spark, sfDir))
    fact.join(dim.filter($"week_tag" === "target"), Seq("event_date"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("cnt"),
        round(sum($"value".cast("decimal(20,6)")), 4).cast("double")
          .as("sum_value"))
      .orderBy($"event_type".asc)
  }

  /** Deterministic experiment (A/B) assignment + per-arm metric rollup —
    * the hash-bucketing shape production experimentation actually uses:
    * a user's arm is `pmod(mix64(user_id), 2)` (the codegen'd splitmix64
    * finalizer — uniform, stateless, reproducible on any engine or
    * service that can hash, which is WHY experiment systems assign this
    * way instead of storing a membership table), and the readout is the
    * per-(event_type, arm) event count, distinct-user count,
    * decimal-exact value total, and events-per-user rate. The oracle
    * replays the splitmix64 chain in UHUGEINT arithmetic (the
    * `text_cap_per_source` convention) and must land on the same arms.
    *
    * Scale: assignment is a map-side expression (no membership join, no
    * state); the rollup is one partial-combining aggregate to ≤
    * |types|·2 rows. The distinct-user count shuffles (type, arm,
    * user) partials once — the one unavoidable exchange. */
  def abAssign(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.read(spark, sfDir, "events")
      .withColumn("variant",
        when(pmod(call_function("mix64", $"user_id"), lit(2L)) === 0L,
          lit("A")).otherwise(lit("B")))
    ev.groupBy($"event_type", $"variant")
      .agg(count(lit(1)).as("n_events"),
        countDistinct($"user_id").as("n_users"),
        round(sum($"value".cast("decimal(20,6)")), 4).cast("double")
          .as("total_value"))
      .withColumn("events_per_user",
        round($"n_events".cast("double") / $"n_users", 4))
      .orderBy($"event_type".asc, $"variant".asc)
  }

  /** RDD-era SECONDARY SORT as a typed one-pass operator — the O-family
    * completion: `repartition(key)` + `sortWithinPartitions(key, time)`
    * co-locates and orders each user's events so ONE `mapPartitions`
    * pass computes order-dependent running state (running max, advance
    * points, ordered checksum) with zero windows and zero extra
    * shuffles — the classic MapReduce secondary-sort idiom expressed
    * with Spark's physical primitives. The same statistics via
    * `Window.partitionBy(user)` would be equivalent here; the point of
    * the port is the TYPED formulation (arbitrary imperative per-group
    * state a window frame can't express — multi-variable, early-exit,
    * heap-bounded — at the same one-shuffle cost).
    *
    * Values quantize to integer micros (`floor(v·1e6 + 0.5)`) so the
    * running comparisons and sums are exact; the advance checksum folds
    * `event_id mod P` IN ARRIVAL ORDER (per-step mod — congruent to the
    * DuckDB `list_reduce` replay over the window-ordered list), so the
    * oracle confirms the exact scan order, not just totals. First event
    * always advances. Output is one row per user.
    *
    * Scale: one hash exchange on user_id (the same shuffle any per-user
    * window pays), in-partition sort, streaming state of O(1) per open
    * user — no driver collection, no corpus-sized window. */
  def secondarySortTyped(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val P = graft.operators.TextAnalysis.ChecksumP
    val ev = Tables.read(spark, sfDir, "events")
      .select($"user_id", $"event_id", unix_micros($"ts").as("us"),
        floor($"value" * 1000000.0 + 0.5).cast("long").as("vq"))
    ev.repartition($"user_id")
      .sortWithinPartitions($"user_id", $"us", $"event_id")
      .as[(Long, Long, Long, Long)]
      .mapPartitions { it =>
        val out = scala.collection.mutable.ListBuffer
          .empty[(Long, Long, Long, Long, Long, Long)]
        var user = 0L
        var open = false
        var n = 0L
        var sumQ = 0L
        var runMax = Long.MinValue
        var nAdv = 0L
        var cks = 0L
        var lastId = 0L
        def flush(): Unit =
          if (open) out += ((user, n, sumQ, nAdv, cks, lastId))
        it.foreach { case (u, id, _, vq) =>
          if (!open || u != user) {
            flush()
            user = u; open = true; n = 0L; sumQ = 0L
            runMax = Long.MinValue; nAdv = 0L; cks = 0L
          }
          n += 1L
          sumQ += vq
          if (vq > runMax) {
            runMax = vq
            nAdv += 1L
            cks = (cks * 31L + id % P) % P
          }
          lastId = id
        }
        flush()
        out.iterator
      }
      .toDF("user_id", "n_events", "sum_q", "n_max_advances",
        "advance_cks", "last_event_id")
      .select($"user_id", $"n_events",
        round($"sum_q" / 1000000.0, 4).as("value_sum"),
        $"n_max_advances", $"advance_cks", $"last_event_id")
      .orderBy($"user_id".asc)
  }

  /** Lateness / out-of-orderness audit — the statistic that SIZES a
    * streaming pipeline's watermark before any batch operator here turns
    * into its `stream_*` twin. The fixture's event_id order is perfectly
    * time-sorted (a single totally-ordered feed has no lateness BY
    * CONSTRUCTION — any subsequence of a sorted sequence is sorted), so
    * the audit replays the arrival order that actually produces lateness
    * in production: a ROUND-ROBIN CONSUMER over `nShards` id-sharded
    * partitions, draining one `b`-event batch per shard per cycle.
    * Within a shard order is preserved (per-partition ordering, the
    * Kafka guarantee); ACROSS shards a cycle's later batches carry
    * earlier event times — exactly the cross-partition skew watermarks
    * exist for. The watermark base advances AT BATCH BOUNDARIES from
    * previous batches' maxima — Spark's own semantics — so an event is
    * late iff its time sits below the max of all earlier-arriving
    * batches, and its lateness is that gap: `withWatermark("ts", X)`
    * would drop exactly the events whose lateness exceeds X.
    *
    * All integer microseconds (`unix_micros` ↔ `epoch_us`) — hash-gated.
    * Scale: the per-shard sequence is the range-decomposed distributed
    * prefix count in [[latenessReplay]] (never a corpus-wide window on
    * the nShards-cardinality key); batch size derives from the corpus
    * count so the BATCH table is bounded (≤ nShards·targetBatches rows
    * at any corpus size), and the cross-batch running max is the
    * triangular broadcast self-join over that bounded table (the
    * `qHistogram` CDF pattern) — no unpartitioned window anywhere;
    * events rejoin their batch by broadcast. */
  /** The per-event late stream shared by the WHOLE lateness family —
    * the exact audit, its approx_percentile twin, and the streaming
    * enforcement ([[graft.streaming.StreamingQueries]]): round-robin
    * shard-merge arrival replay → per-shard arrival sequence →
    * (cycle, shard) batches → cross-batch running-max watermark base →
    * per-event `late_us` gap. One derivation, one precision knob:
    * `msFloor = false` is the audit's exact-µs arithmetic;
    * `msFloor = true` is Spark's ACTUAL watermark arithmetic
    * (EventTimeStatsAccum tracks millisecond-FLOOR event-time maxima,
    * so the enforcement prediction must floor batch maxima to ms before
    * the running max — calibrated against a real MemoryStream boundary
    * probe in round 11).
    *
    * Scale shape: the per-shard arrival sequence is a RANGE-DECOMPOSED
    * distributed prefix count (the `packSequences` pattern), NOT a
    * corpus-wide `Window.partitionBy(shard)` — with nShards = 4 that
    * window shuffles the entire table into 4 reducer partitions and
    * sorts n/4 rows in each, the same few-partition funnel the ANN
    * ranking rewrite killed. Here events group into ≤ 8192 coarse
    * (shard, id-range) cells sized from the corpus count; per-cell
    * arrival offsets are a running sum over that BOUNDED cell table
    * (offset = Σ counts of same-shard earlier ranges — a window over a
    * fitted-size table, the IVF probe-selection class); the in-cell
    * sequence is a window partitioned by (shard, rng) — thousands of
    * bounded partitions, fully parallel at any corpus size. Seq values
    * are IDENTICAL to the naive per-shard
    * window (unique ids, ranges ordered by id), so every downstream
    * oracle holds unchanged — PropertySpec proves range-width
    * invariance, PlanSpec pins the plan shape.
    *
    * `materialize` eagerly checkpoints the sequenced stream for callers
    * that re-filter it many times (the streaming enforcement's ≤ 32
    * delivery filters); the single-pass batch audit leaves it lazy. */
  /** Once-per-JVM memo of the 4-column events projection every lateness
    * query re-reads — the eagerly localCheckpoint'ed projection plus its
    * row count, keyed by (sfDir, nShards), the only inputs it depends
    * on. The memo is the projection's lifetime OWNER (the r13 `persist`
    * had none — every parameterization left a session-lifetime
    * CacheManager entry): checkpoint blocks are NOT CacheManager entries
    * (`spark.catalog.clearCache` never sees them; a fresh session
    * inherits nothing), retention is explicit and BOUNDED — at most
    * [[EvProjMax]] parameterizations, oldest-evicted with its storage
    * blocks released through the LogicalRDD handle
    * ([[Dedup.dropCheckpoint]]) — and an entry from a stopped or foreign
    * SparkContext is rebuilt. What the r13 persist bought is preserved:
    * ONE corpus scan per (sfDir, nShards) per JVM, shared by the
    * 3-query lateness family, repeated bench passes, and the streaming
    * enforcement's ≤ 32 delivery filters. */
  private val evProjMemo = new java.util.LinkedHashMap[
    (String, Int), (DataFrame, Long)]
  private val EvProjMax = 4

  private[graft] def releaseEventsProjections(): Unit =
    evProjMemo.synchronized {
      evProjMemo.values.forEach { case (df, _) => Dedup.dropCheckpoint(df) }
      evProjMemo.clear()
    }

  private[graft] def eventsProjection(spark: SparkSession, sfDir: String,
      nShards: Int): (DataFrame, Long) = evProjMemo.synchronized {
    import spark.implicits._
    val key = (sfDir, nShards)
    val hit = Option(evProjMemo.get(key))
      .filter { case (df, _) =>
        Dedup.checkpointRdd(df).exists(r =>
          (r.context eq spark.sparkContext) && !r.context.isStopped)
      }
    hit.getOrElse {
      val ev = Tables.read(spark, sfDir, "events")
        .select($"event_id", $"ts", $"event_type")
        .withColumn("shard", ($"event_id" % nShards).cast("int"))
        .withColumn("us", unix_micros($"ts"))
        .localCheckpoint(true)
      val built = (ev, ev.count())
      evProjMemo.remove(key)
      evProjMemo.put(key, built)
      while (evProjMemo.size() > EvProjMax) {
        val oldest = evProjMemo.keySet().iterator().next()
        Option(evProjMemo.remove(oldest))
          .foreach { case (df, _) => Dedup.dropCheckpoint(df) }
      }
      built
    }
  }

  private[graft] def latenessReplay(spark: SparkSession, sfDir: String,
      nShards: Int, targetBatches: Long, msFloor: Boolean,
      materialize: Boolean = false, rangeSize: Long = 0L): DataFrame = {
    import spark.implicits._
    // ONE corpus pass for the whole family, owned by the JVM-level memo
    // above: the sizing count() is free (memoized beside the checkpoint)
    // and the main plan's three consumers (cells, the sequencing join,
    // batch maxima) read the checkpointed 4-column projection instead of
    // re-scanning parquet.
    val (ev, n) = eventsProjection(spark, sfDir, nShards)
    // floor 4, not 1: with b = 1 and near-uniform shards the round-robin
    // merge reconstructs the global id order exactly (no lateness at all
    // on a tiny corpus) — a 4-event batch keeps the merge non-trivial at
    // any scale while changing nothing once n/2048 >= 4
    val b = math.max(n / (nShards * targetBatches), 4L)
    // per-shard arrival sequence, range-decomposed: cell width sized
    // from the corpus count → ≤ 8192 ranges × nShards bounded cells
    val width =
      if (rangeSize > 0L) rangeSize
      else math.max(nShards.toLong, (n + 8191L) / 8192L)
    val ranged = ev.withColumn("rng", expr(s"event_id div $width"))
    val cells = ranged.groupBy($"shard", $"rng")
      .agg(count(lit(1)).as("rc"))
    // per-shard range offsets: a running sum OVER THE CELL TABLE, which
    // is ≤ 8192·nShards rows BY CONSTRUCTION (width derives from the
    // corpus count) — the bounded-fitted-table window class (the IVF
    // probe-selection precedent), never a corpus-sized sort. The
    // packSequences-style triangular self-join here would evaluate
    // O(nShards·ranges²) ≈ 268M cheap pairs — measured 9× the whole
    // audit's runtime at fixture scale, for zero scale benefit.
    val wOff = Window.partitionBy($"shard").orderBy($"rng".asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = cells
      .withColumn("seq_off", coalesce(sum($"rc").over(wOff), lit(0L)))
      .drop("rc")
    val wSeq = Window.partitionBy($"shard", $"rng").orderBy($"event_id".asc)
    val seqd0 = ranged.join(broadcast(offsets), Seq("shard", "rng"))
      .withColumn("seq", $"seq_off" + row_number().over(wSeq))
      .withColumn("cycle", expr(s"CAST((seq - 1) DIV $b AS BIGINT)"))
      .drop("rng", "seq_off")
    val seqd = if (materialize) seqd0.localCheckpoint(true) else seqd0
    // batch maxima at the chosen precision: for msFloor,
    // floor(max(us)/1000) = max(floor(us/1000)) — same value either way
    val batches = seqd.groupBy($"cycle", $"shard")
      .agg((if (msFloor) expr("max(us) DIV 1000") else expr("max(us)"))
        .as("bmax"))
      .localCheckpoint(true) // bounded table, feeds both join sides
    // watermark base per batch: max over all EARLIER-ARRIVING batches
    // ((cycle, shard) lexicographic) — triangular join, never a window.
    // The broadcast hint is load-bearing: the table is ≤ nShards ×
    // (targetBatches + 1) rows BY CONSTRUCTION, but its post-checkpoint
    // lineage runs through a join, whose multiplied size estimate would
    // otherwise push the non-equi pair past the auto-broadcast threshold
    // and degrade it to a CartesianProduct
    val hwm = batches.as("a").join(broadcast(batches.as("b")),
        col("b.cycle") < col("a.cycle") ||
          (col("b.cycle") === col("a.cycle") &&
            col("b.shard") < col("a.shard")))
      .groupBy(col("a.cycle").as("cycle"), col("a.shard").as("shard"))
      .agg(max(col("b.bmax")).as("hwm"))
    val hwmUs = if (msFloor) $"hwm" * 1000L else $"hwm"
    val late = seqd
      .join(broadcast(hwm), Seq("cycle", "shard"), "left_outer")
      .withColumn("late_us",
        greatest(coalesce(hwmUs - $"us", lit(0L)), lit(0L)))
      .select($"event_id", $"ts", $"event_type", $"shard", $"cycle",
        $"seq", $"late_us")
    if (materialize) late.localCheckpoint(true) else late
  }

  def latenessAudit(spark: SparkSession, sfDir: String, nShards: Int = 4,
      targetBatches: Long = 512L): DataFrame = {
    import spark.implicits._
    val P = graft.operators.TextAnalysis.ChecksumP
    latenessReplay(spark, sfDir, nShards, targetBatches, msFloor = false)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(when($"late_us" > 0, 1L).otherwise(0L)).as("n_late"),
        max($"late_us").as("max_late_us"),
        sum($"late_us").as("sum_late_us"),
        round(sum(when($"late_us" > 0, 1L).otherwise(0L)).cast("double") /
          count(lit(1)), 4).as("late_ratio"),
        // the watermark RECOMMENDATION the audit exists to produce:
        // `withWatermark("ts", wm_p99_us)` admits ≥ 99% of this type's
        // events (lateness 0 rows included — the percentile is over ALL
        // arrivals, which is what sizing a delay budget means). Exact
        // sort-based percentile on the integer micros, rounded 4 dp on
        // both engines (the anomalyMad discipline); at 100 TB per-group
        // value sets past a partition swap to approx_percentile
        round(expr("percentile(late_us, 0.99)"), 4).as("wm_p99_us"),
        sum(when($"late_us" > 0, $"event_id" % P).otherwise(0L))
          .as("late_ids_sum"))
      .withColumn("late_ids_checksum", $"late_ids_sum" % P)
      .drop("late_ids_sum")
      .orderBy($"event_type".asc)
  }

  /** approx_percentile twin of [[latenessAudit]]'s watermark
    * recommendation — the documented 100 TB swap MADE CODE instead of a
    * comment: the exact `percentile(late_us, 0.99)` buffers each group's
    * full value set in one aggregation buffer (fine until a type's
    * arrivals outgrow a partition; a watermark audit over a year of a
    * hot event type would not), where the KLL/GK sketch
    * (`approx_percentile`, accuracy 10000 → rank error ≤ n/10⁴) keeps a
    * few KB of state per partial and merges map-side.
    *
    * Gate discipline = `q_quantiles_approx`: the sketch's value is NOT
    * exported (its merge order isn't deterministic) — the output carries
    * the exact percentile plus `wm_p99_ok`, TRUE iff the sketch landed
    * inside the exact [p98, p99.6] value window (rank 0.99 ± 10⁻⁴ sits
    * strictly inside ±0.005 even after interpolation slop at small n),
    * which the oracle re-checks as a literal-TRUE column. */
  def latenessAuditApprox(spark: SparkSession, sfDir: String,
      nShards: Int = 4, targetBatches: Long = 512L): DataFrame = {
    import spark.implicits._
    val late = latenessReplay(spark, sfDir, nShards, targetBatches,
      msFloor = false)
    val exact = late.groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(when($"late_us" > 0, 1L).otherwise(0L)).as("n_late"),
        expr("percentile(late_us, 0.99)").as("e99"),
        expr("percentile(late_us, 0.98)").as("lo98"),
        expr("percentile(late_us, 0.996)").as("hi996"))
    val approx = late.groupBy($"event_type")
      .agg(expr("approx_percentile(late_us, 0.99, 10000)").as("a99"))
    exact.join(approx, Seq("event_type"))
      .select($"event_type", $"n_events", $"n_late",
        round($"e99", 4).as("wm_p99_us"),
        ($"a99" >= $"lo98" && $"a99" <= $"hi996").as("wm_p99_ok"))
      .orderBy($"event_type".asc)
  }

  /** Cutoff splitting [[snapshotDiff]]'s two snapshots — shared with the
    * DuckDB oracle. */
  val DiffCutoff = "2024-01-16"

  /** Snapshot diff — the table-reconciliation op every warehouse runs
    * between loads ("what changed since yesterday?"): per-user activity
    * aggregates from two halves of the month FULL OUTER joined on the
    * key, each key classified added / removed / changed / same, plus
    * mod-prime checksums of the member keys per class so the oracle
    * confirms WHICH keys moved, not just how many. This is the declared
    * FULL OUTER JOIN surface — the one join type the rest of the suite
    * exercises only inside `ev_incremental_agg`'s merge.
    *
    * Scale: both snapshots collapse map-side to one row per key before
    * the join; the full outer join shuffles key-collapsed sides only,
    * and the class report is a 4-row aggregate. */
  def snapshotDiff(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val P = graft.operators.TextAnalysis.ChecksumP
    def snap(pred: Column): DataFrame =
      Tables.read(spark, sfDir, "events")
        .filter(pred)
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n"),
          sum($"value".cast("decimal(20,6)")).as("v"))
    val a = snap($"ts" < lit(DiffCutoff).cast("timestamp"))
      .select($"user_id", $"n".as("n_a"), $"v".as("v_a"))
    val b = snap($"ts" >= lit(DiffCutoff).cast("timestamp"))
      .select($"user_id", $"n".as("n_b"), $"v".as("v_b"))
    a.join(b, Seq("user_id"), "full_outer")
      .withColumn("status",
        when($"n_a".isNull, "added")
          .when($"n_b".isNull, "removed")
          .when($"n_a" === $"n_b" && $"v_a" === $"v_b", "same")
          .otherwise("changed"))
      .groupBy($"status")
      .agg(count(lit(1)).as("n_keys"),
        pmod(sum(pmod($"user_id", lit(P))), lit(P)).as("key_checksum"),
        min($"user_id").as("min_key"), max($"user_id").as("max_key"))
      .orderBy($"status".asc)
  }

  /** Trailing 7-day rolling aggregate — the RANGE-frame window surface
    * (`rangeBetween` on a numeric day axis), semantically different from
    * every rows-frame window in the suite: silent days do NOT consume
    * frame slots, so the frame is "the last 7 CALENDAR days", not "the
    * last 7 observations" — the metric every DAU/engagement dashboard
    * actually wants. Built on the per-(user, day) pre-aggregate, so the
    * window input is days not raw events, and partitioned per user.
    *
    * Scale: raw events collapse map-side to user·day rows first; the
    * range window sorts each user's day series only. Value sums stay
    * decimal until one rounded export. */
  def rollingWindow(spark: SparkSession, sfDir: String,
      windowDays: Int = 7): DataFrame = {
    import spark.implicits._
    val daily = Tables.read(spark, sfDir, "events")
      .groupBy($"user_id", to_date($"ts").as("day"))
      .agg(count(lit(1)).as("n_events"),
        sum($"value".cast("decimal(20,6)")).as("day_value"))
      .withColumn("day_num",
        datediff($"day", lit("1970-01-01").cast("date")).cast("long"))
    val w = Window.partitionBy($"user_id").orderBy($"day_num".asc)
      .rangeBetween(-(windowDays - 1).toLong, 0L)
    daily
      .withColumn("rolling_events", sum($"n_events").over(w))
      .withColumn("rolling_value", round(sum($"day_value").over(w), 4)
        .cast("double"))
      .select($"user_id", $"day".cast("string").as("day"), $"n_events",
        $"rolling_events", $"rolling_value")
      .orderBy($"user_id".asc, $"day".asc)
  }

  /** Top-k path length for [[pathMining]] output — shared with the
    * DuckDB oracle. */
  val PathTopK = 20

  /** Sequential path mining — the k-step upgrade of
    * [[transitionMatrix]]: the most common 3-step behavior paths
    * (t₀→t₁→t₂) across all users, the "what do users actually do"
    * report product analytics runs (first-order transitions hide
    * multi-step structure — a→b and b→c frequent does NOT imply a→b→c
    * is). Paths form with two lead()s over the per-user (ts, event_id)
    * total order — one window pass, no self-joins — then collapse
    * map-side to ≤ |types|³ rows; top-k is an ordered limit
    * (TakeOrderedAndProject), deterministic via the path tie-break.
    *
    * Scale: the corpus shuffles once for the per-user window (bounded
    * per-user state); the count aggregate and top-k are
    * types³-bounded. */
  def pathMining(spark: SparkSession, sfDir: String,
      k: Int = PathTopK): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    Tables.read(spark, sfDir, "events")
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("t1", lead($"event_type", 1).over(w))
      .withColumn("t2", lead($"event_type", 2).over(w))
      .filter($"t2".isNotNull)
      .select(concat_ws(">", $"event_type", $"t1", $"t2").as("path"))
      .groupBy($"path").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"path".asc)
      .limit(k)
  }

  /** Unpivot (melt) — the inverse of [[pivotCounts]]: the wide per-user
    * type-count matrix back to tidy (user, type, cnt) long form, via the
    * engine's native `unpivot` operator (plans as a single Expand pass —
    * one output row per (input row × value column), no join, no
    * shuffle beyond the pivot's own aggregate). Wide→long is the
    * normalization step between spreadsheet-shaped feeds and relational
    * pipelines; zeros stay explicit rows so the melt is exactly
    * invertible. */
  def unpivotCounts(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val types = Seq("click", "error", "purchase", "signup", "view")
    pivotCounts(spark, sfDir)
      .unpivot(Array($"user_id"), types.map(col).toArray,
        "event_type", "cnt")
      .orderBy($"user_id".asc, $"event_type".asc)
  }

  /** OHLC downsampling — collapse the raw event stream to per-(type, day)
    * bars (open/high/low/close/volume), the resample step every
    * time-series store runs before charting or modeling. Open/close are
    * ARGMIN/ARGMAX aggregates (`min_by`/`max_by` on the (ts, event_id)
    * struct — the same deterministic total order as CDC compaction), so
    * the whole bar is ONE aggregate with map-side partials: each map task
    * forwards a single (open, high, low, close, partial-count,
    * partial-sum) cell per bar, never a sorted window over raw events —
    * at 100 TB the exchange carries bars, not ticks. Volume sums as
    * decimal (order-independent, overflow-proof) and exports one rounded
    * double. */
  def ohlcBars(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.read(spark, sfDir, "events")
      .groupBy($"event_type", to_date($"ts").cast("string").as("day"))
      .agg(count(lit(1)).as("n_events"),
        min_by($"value", struct($"ts", $"event_id")).as("open"),
        max($"value").as("high"),
        min($"value").as("low"),
        max_by($"value", struct($"ts", $"event_id")).as("close"),
        round(sum($"value".cast("decimal(20,6)")), 4).cast("double")
          .as("volume"))
      .orderBy($"event_type".asc, $"day".asc)
  }

  /** Time-in-state — attribute the gap to the NEXT event to each event's
    * type (capped at an idle cutoff, the sessionize gap), answering "how
    * long do users sit in each state": per-type gap counts, capped-gap
    * count, total and mean dwell.
    *
    * Scale: one per-user window (lead over the (ts, event_id) total
    * order — partitioned, bounded by a user's history) then one
    * low-cardinality aggregate with map-side partials. Gap micros sum as
    * decimal — a raw BIGINT sum overflows 64 bits around 10^13 events —
    * and export as one rounded double of seconds. */
  def dwellTime(spark: SparkSession, sfDir: String,
      idleCutoffMin: Long = 30L): DataFrame = {
    import spark.implicits._
    val capUs = idleCutoffMin * 60L * 1000000L
    val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    Tables.read(spark, sfDir, "events")
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("next_us", lead(unix_micros($"ts"), 1).over(w))
      .filter($"next_us".isNotNull)
      .withColumn("gap_us", $"next_us" - unix_micros($"ts"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_gaps"),
        sum(when($"gap_us" > capUs, 1L).otherwise(0L)).as("n_capped"),
        round(sum(least($"gap_us", lit(capUs)).cast("decimal(38,0)"))
          .cast("double") / 1000000.0, 4).as("dwell_total_s"),
        round((sum(least($"gap_us", lit(capUs)).cast("decimal(38,0)"))
          .cast("double") / 1000000.0) / count(lit(1)), 4)
          .as("dwell_avg_s"))
      .orderBy($"event_type".asc)
  }

  /** Time-series gap fill — densify each user's daily activity to a
    * continuous calendar spine and forward-fill the last observed value
    * over silent days, the imputation step between raw events and any
    * longitudinal model. The spine is per-user `sequence(min_day,
    * max_day)` (bounded by each user's own active span, not the global
    * calendar), missing days join as explicit rows, and the fill is
    * `last(_, ignoreNulls)` over a per-user ordered window.
    *
    * Scale: the daily aggregate collapses the raw stream map-side to
    * ≤ users·days rows before anything else; the spine explode and fill
    * window are both per-user partitioned (nothing global); output is
    * spine-sized, corpus-volume-independent. First observed day is by
    * construction non-null, so the fill never fabricates a value. */
  def gapFill(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.read(spark, sfDir, "events")
      .groupBy($"user_id", to_date($"ts").as("day"))
      .agg(count(lit(1)).as("n_events"),
        round(sum($"value".cast("decimal(20,6)")), 4).cast("double")
          .as("day_value"))
    val spine = daily.groupBy($"user_id")
      .agg(min($"day").as("d0"), max($"day").as("d1"))
      .select($"user_id",
        explode(sequence($"d0", $"d1", expr("interval 1 day"))).as("day"))
    val wFill = Window.partitionBy($"user_id").orderBy($"day".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq("user_id", "day"), "left_outer")
      .withColumn("is_gap", $"n_events".isNull)
      .withColumn("filled_value",
        last($"day_value", ignoreNulls = true).over(wFill))
      .select($"user_id", $"day".cast("string").as("day"),
        coalesce($"n_events", lit(0L)).as("n_events"), $"is_gap",
        $"filled_value")
      .orderBy($"user_id".asc, $"day".asc)
  }
}
