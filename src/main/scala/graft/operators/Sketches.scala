package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Probabilistic-filter operators — the runtime-filter / heavy-hitter
  * tier of a 100 TB pipeline, built from PORTABLE integer hash math
  * (multiply-add mod 1e9+7) so the DuckDB oracle replays every bit and
  * the "approximate" structures stay fully hash-gated.
  *
  * Scale stance: both operators keep the sketch tiny (≤ a few thousand
  * rows) and BROADCAST it past the fact table — the fact side never
  * shuffles for the sketch, only for its own final aggregate.
  */
object Sketches {

  /** Public mixing constants (Knuth/xxhash primes). */
  private val P = 1000000007L
  private val A = Array(2654435761L, 2246822519L, 3266489917L, 668265263L)
  private def B(i: Int): Long = 10007L * i + 1L

  /** i-th hash of `key`, reduced into [0, m). Key is pre-reduced with
    * pmod (a signed % on a negative key would make the position negative
    * — out-of-range bitmap words, negative sketch buckets) so the
    * multiply stays < 2^63 for any BIGINT key (1e9 · 3.3e9 < 9.2e18);
    * DuckDB evaluates the identical (k % P + P) % P expression. */
  private def hashPos(key: Column, i: Int, m: Long): Column =
    ((pmod(key, lit(P)) * A(i) + B(i)) % P) % m

  /** Bloom-filter semi-join pruning — the runtime-filter pattern Spark's
    * own InjectRuntimeFilter plans at scale: build a Bloom filter over the
    * SELECTIVE dimension keys (urgent orders) and prune the fact scan
    * before any join. The bitmap is built with one tiny shuffle
    * (set-bit positions → bit_or per word), collected as ONE packed
    * long[] (≤ 16 MiB at the 2^27-bit cap — broadcast-join-build-side
    * order), and probed by the native `bloom_might_contain` codegen
    * expression: the fact table never shuffles AND never joins for the
    * probe — 4 multiply-mod-shift-AND steps per row inside whole-stage
    * codegen (the prior shape probed a (word → bits) row table through 4
    * broadcast hash joins; see graft.functions.BloomMightContain).
    *
    * The bit count adapts to the build side exactly like the engine's
    * runtime filters size from build-side stats: smallest 2^b ≥ 16·n_keys
    * (k=4 hashes → ~0.15% false-positive rate at 16 bits/key); the probe
    * count() is one pushed-down scan of the key column. mBits caps at 27
    * (a 16 MiB bitmap); past ~8.4M build keys the cap saturates, the FP
    * guarantee is gone, and the operator HANDS OFF: instead of building
    * a degraded bitmap it plans the exact shuffled hash join the filter
    * was approximating (see the saturated branch in `bloomPrune`).
    *
    * Output: per l_returnflag, total rows, bloom-pass rows, exact matches
    * (the semi join the bloom approximates — computed here only to
    * MEASURE the filter; production prunes first and joins the survivors),
    * directly-counted false positives, and the no-false-negative
    * invariant as a hard oracle-checked boolean. All integers →
    * hash-exact despite the operator being "approximate". */
  /** Default mBits cap (2^27 bits = a 16 MiB bitmap). Shared with the
    * DuckDB oracle in SparkEntry (interpolated into the SQL), so the
    * operator's cap and the oracle's replay of it cannot silently
    * diverge when this default changes. */
  private[graft] val BloomCapBits = 27

  /** Adaptive sizing shared by the bitmap build and the handoff
    * decision: smallest 2^b ≥ 16·n_keys (k=4 hashes → ~0.15% FP at 16
    * bits/key), capped at capBits. Saturated = the build side outgrew
    * the cap, i.e. the FP guarantee is gone. */
  private[graft] def bloomSizing(nKeys: Long, capBits: Int = BloomCapBits)
      : (Int, Boolean) = {
    var mBits = math.min(13, capBits)
    while (mBits < capBits && (1L << mBits) < 16L * nKeys) mBits += 1
    (mBits, (1L << mBits) < 16L * nKeys)
  }

  /** Fitted-bitmap build, factored out so the saturation path is
    * independently testable with a small cap override: adaptive sizing
    * (smallest 2^b ≥ 16·n_keys), distributed set-bit build, ONE collect
    * of the occupied slots. Returns (packed words, mBits, saturated);
    * saturation — the build side outgrowing the cap — WARNS on
    * `Console.err` (capturable by specs); `bloomPrune` never reaches
    * this degraded regime — it checks `bloomSizing` first and hands off
    * to the shuffled exact join instead of building a saturated bitmap
    * (this direct path keeps the degraded bitmap's no-false-negative
    * invariant spec-testable on its own). */
  private[graft] def buildBloomBitmap(keys: DataFrame,
      capBits: Int = BloomCapBits,
      knownKeys: Long = -1L): (Array[Long], Int, Boolean) = {
    import keys.sparkSession.implicits._
    val nKeys = if (knownKeys >= 0L) knownKeys else keys.count()
    val (mBits, saturated) = bloomSizing(nKeys, capBits)
    if (saturated)
      Console.err.println(s"[graft] bloomPrune: mBits saturated at " +
        s"$capBits for $nKeys build keys — false-positive rate degrades " +
        s"above ~${(1L << capBits) / 16L} keys")
    val m = 1L << mBits
    // distributed build: 4 set-bit positions per key, bit_or'd into
    // 64-bit slots (global bit layout identical to the oracle's 32-bit
    // words: word w bit b == global bit 32w+b), then ONE collect of the
    // occupied slots into the dense bitmap — the fitted-model pattern
    val slots = keys
      .select(explode(array((0 until 4).map(i =>
        hashPos($"k", i, m)): _*)).as("pos"))
      .select(($"pos" / 64).cast("int").as("slot"),
        expr("shiftleft(1L, cast(pos % 64 AS int))").as("mask"))
      .groupBy($"slot").agg(expr("bit_or(mask)").as("bits"))
      .collect()
    val words = new Array[Long]((m / 64).toInt.max(1))
    slots.foreach(r => words(r.getInt(0)) = r.getLong(1))
    (words, mBits, saturated)
  }

  def bloomPrune(spark: SparkSession, sfDir: String,
      capBits: Int = BloomCapBits)
      : DataFrame = {
    import spark.implicits._
    val keys = Tables.read(spark, sfDir, "orders")
      .filter($"o_orderpriority" === "1-URGENT")
      .select($"o_orderkey".as("k")) // o_orderkey is unique — no distinct
    val nKeys = keys.count() // pushed-down single-column scan
    val (_, saturated) = bloomSizing(nKeys, capBits)
    val fact0 = Tables.read(spark, sfDir, "lineitem")
      .select($"l_orderkey", $"l_returnflag")
    val flagged = if (saturated) {
      // SATURATION HANDOFF: past ~16·2^cap build keys the bitmap's FP
      // guarantee is gone, and at that cardinality the build side can
      // outgrow a broadcast too — so skip the bitmap build entirely and
      // take membership from ONE shuffled hash join (build side hashed
      // per partition, fact side never sorted). pass == matched by
      // construction: the handoff is the EXACT filter — zero false
      // positives, zero false negatives.
      fact0
        .join(keys.withColumn("matched", lit(true)).hint("shuffle_hash"),
          $"l_orderkey" === $"k", "left_outer")
        .withColumn("matched", coalesce($"matched", lit(false)))
        .withColumn("pass", $"matched")
    } else {
      val (words, mBits, _) = buildBloomBitmap(keys, capBits, nKeys)
      fact0
        .withColumn("pass", graft.functions.BloomMightContain.column(
          $"l_orderkey", words, mBits))
        // exact semi join, included to measure the filter's error
        .join(broadcast(keys.withColumn("matched", lit(true))),
          $"l_orderkey" === $"k", "left_outer")
        .withColumn("matched", coalesce($"matched", lit(false)))
    }
    flagged.groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        sum(when($"pass", 1L).otherwise(0L)).as("n_pass"),
        sum(when($"matched", 1L).otherwise(0L)).as("n_match"),
        sum(when($"pass" && !$"matched", 1L).otherwise(0L)).as("n_false_pos"),
        (sum(when($"matched" && !$"pass", 1L).otherwise(0L)) === 0L)
          .as("no_false_neg"))
      .orderBy($"l_returnflag".asc)
  }

  /** Count-min-sketch heavy hitters — frequency estimation where the
    * exact per-key count table itself is too hot to hold: d=4 hash rows ×
    * w=2048 buckets of COUNTS (the sketch is ≤ 8192 rows regardless of
    * corpus size), estimate = min over the key's 4 buckets. The key space
    * is deliberately skewed (partkeys ≡ 0 mod 7 collapse to 5 hot keys ≈
    * 8% of rows each) so "heavy hitter" means something.
    *
    * The exact side (for the oracle-checked error bound) is a group-count
    * + global top-10 — fine HERE because post-aggregate cardinality is
    * tiny; at 100 TB the exact table is what you DON'T build, and the
    * sketch row's guarantee est ≥ exact ∧ est ≤ exact + 2N/w (both
    * oracle-gated booleans would be vacuous — the values themselves are
    * deterministic integers, so the oracle checks them exactly).
    * `within_bound`'s 2N/w is a PROBABILISTIC guarantee (~1/16 failure
    * odds per key for a correct sketch) that happens to hold on the
    * deterministic fixtures; see PipelineOpsSpec for the flake note.
    *
    * One fact shuffle for the sketch (map-side partials collapse to ≤
    * d·w rows), one for the exact counts; the estimate join broadcasts
    * the 40-row exploded top-k against the sketch. */
  def heavyHittersCms(spark: SparkSession, sfDir: String,
      topK: Int = 10, w: Long = 2048L): DataFrame =
    cmsFinalize(spark, sfDir, cmsCells(cmsFact(spark, sfDir), w), topK, w)

  /** The skewed CMS key projection shared by the batch and STREAMING
    * heavy hitters: partkeys ≡ 0 mod 7 collapse to 5 hot keys (≈ 8% of
    * rows each) so "heavy hitter" means something. `half` (orderkey
    * parity) exists so the streaming twin can split the corpus into two
    * micro-batch deliveries that both touch the hot cells — a genuine
    * cross-batch register merge, not an append. */
  private[graft] def cmsFact(spark: SparkSession, sfDir: String)
      : DataFrame = {
    import spark.implicits._
    Tables.read(spark, sfDir, "lineitem")
      .select(when($"l_partkey" % 7 === 0, $"l_partkey" % 5)
        .otherwise($"l_partkey").as("key"),
        ($"l_orderkey" % 2).as("half"))
  }

  /** d×w CMS count table from a `key` column: explode each row into its
    * 4 (row, bucket) cells; hash-aggregate partials collapse repeats
    * map-side. Per-cell COUNTS are sums — merge-order-invariant — so
    * the identical code is the streaming Complete-mode aggregation
    * state ([[graft.streaming.StreamingQueries.heavyHittersCms]]). */
  private[graft] def cmsCells(fact: DataFrame, w: Long = 2048L)
      : DataFrame =
    fact
      .select(explode(array((0 until 4).map(i => struct(
        lit(i).as("j"), hashPos(col("key"), i, w).as("bucket"))): _*)).as("c"))
      .groupBy(col("c.j").as("j"), col("c.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** Estimate + measure stage over an already-built d×w cell table:
    * exact top-k from a fresh fact pass (the MEASURING side production
    * drops), per-key min-over-rows estimate, additive-bound flag. */
  private[graft] def cmsFinalize(spark: SparkSession, sfDir: String,
      cms: DataFrame, topK: Int = 10, w: Long = 2048L): DataFrame = {
    import spark.implicits._
    val fact = cmsFact(spark, sfDir)
    val totals = fact.groupBy($"key").agg(count(lit(1)).as("exact_cnt"))
    // top-k via orderBy+limit → TakeOrderedAndProject: each upstream
    // partition forwards only its own top-k, never a global-window funnel
    // (row_number over an unpartitioned Window would move every post-agg
    // key into one task and log "No Partition Defined"). Rank is then
    // recomputed over just the ≤ topK survivors by counting rows strictly
    // ahead in the same sort order — a k×k broadcast loop join, ≤ 100
    // pairs at any corpus size, window-free
    val topRows = totals.orderBy($"exact_cnt".desc, $"key".asc).limit(topK)
    val top = topRows.as("a")
      .join(broadcast(topRows.as("b")),
        $"b.exact_cnt" > $"a.exact_cnt" ||
          ($"b.exact_cnt" === $"a.exact_cnt" && $"b.key" < $"a.key"),
        "left_outer")
      .groupBy($"a.key".as("key"), $"a.exact_cnt".as("exact_cnt"))
      .agg((count($"b.key") + 1L).cast("int").as("rnk"))
    // N = sum over any one hash row of the sketch (≤ w rows) — no third
    // scan of the fact table for a number the sketch already carries
    val n = cms.filter($"j" === 0).agg(sum($"cnt").as("n_total"))
    val est = top
      .select($"key", $"exact_cnt", $"rnk",
        explode(array((0 until 4).map(i => struct(
          lit(i).as("j"), hashPos($"key", i, w).as("bucket"))): _*)).as("c"))
      .join(cms, $"c.j" === cms("j") && $"c.bucket" === cms("bucket"))
      .groupBy($"key", $"exact_cnt", $"rnk")
      .agg(min($"cnt").as("cms_est"))
    est.crossJoin(broadcast(n))
      .select($"rnk", $"key", $"exact_cnt", $"cms_est",
        ($"cms_est" - $"exact_cnt").as("overcount"),
        ($"cms_est" >= $"exact_cnt" &&
          $"cms_est" <= $"exact_cnt" + lit(2L) * $"n_total" / w)
          .as("within_bound"))
      .orderBy($"rnk".asc)
  }

  /** Self-join-size (F2) estimation from a count-min sketch — the
    * AMS-lineage cardinality estimate a query planner wants BEFORE
    * running a join: |A ⋈ A| on a key = Σ_k c(k)², the second frequency
    * moment, and a CMS row's bucket counts give the estimate
    * Σ_b cms[j][b]² with min over the d rows (Alon-Matias-Szegedy 1996;
    * Cormode-Muthukrishnan 2005 §4.2 inner-product estimation). At
    * 100 TB the d×w sketch (≤ 8192 counts) is what you CAN afford to
    * keep per table/column; the exact per-key count table is not.
    *
    * Same deliberately skewed key domain as [[heavyHittersCms]]
    * (partkeys ≡ 0 mod 7 collapse to 5 hot keys) — F2 is exactly the
    * statistic skew inflates, which is why a planner tracks it. The
    * one-sided guarantee est ≥ exact is structural (collisions only
    * ADD cross-terms) and oracle-gated hard; the additive bound
    * 2N²/w per row is probabilistic, same convention as the CMS
    * point-estimate bound. Everything is integer arithmetic — the
    * "approximate" estimate is hash-exact on both engines.
    *
    * Scale: two map-side-combined aggregates (sketch cells ≤ d·w per
    * group, exact side one (group, key) count), nothing else touches
    * the fact table; the exact side exists to MEASURE the sketch and
    * is what production drops. */
  def selfJoinSizeCms(spark: SparkSession, sfDir: String,
      w: Long = 2048L): DataFrame = {
    import spark.implicits._
    val fact = Tables.read(spark, sfDir, "lineitem")
      .select($"l_returnflag",
        when($"l_partkey" % 7 === 0, $"l_partkey" % 5)
          .otherwise($"l_partkey").as("key"))
    val cms = fact
      .select($"l_returnflag", explode(array((0 until 4).map(i => struct(
        lit(i).as("j"), hashPos($"key", i, w).as("bucket"))): _*)).as("c"))
      .groupBy($"l_returnflag", $"c.j".as("j"), $"c.bucket".as("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val est = cms.groupBy($"l_returnflag", $"j")
      .agg(sum($"cnt" * $"cnt").as("est_j"))
      .groupBy($"l_returnflag")
      .agg(min($"est_j").as("f2_est"))
    val exact = fact.groupBy($"l_returnflag", $"key")
      .agg(count(lit(1)).as("cnt"))
      .groupBy($"l_returnflag")
      .agg(sum($"cnt" * $"cnt").as("f2_exact"), sum($"cnt").as("n_rows"))
    exact.join(broadcast(est), Seq("l_returnflag"))
      .select($"l_returnflag", $"n_rows", $"f2_exact", $"f2_est",
        ($"f2_est" - $"f2_exact").as("overcount"),
        ($"f2_est" >= $"f2_exact").as("never_under"),
        ($"f2_est" <= $"f2_exact"
          + lit(2L) * $"n_rows" * $"n_rows" / w).as("within_bound"))
      .orderBy($"l_returnflag".asc)
  }

  /** HyperLogLog geometry: m = 2^10 buckets from the mixed hash's low
    * 10 bits, rho from the next HllW = 20 bits. The hash is
    * `mix64` (splitmix64 — graft.functions.Mix64), NOT the repo's
    * affine mod-P family: leading-zero statistics need every sub-range
    * [0, 2^b) hit with probability exactly 2^(b−w), and an affine map
    * mod P fails that two ways — the domain [0, P) is not a power of
    * two (biases P(small) high), and the map is a rigid Weyl rotation
    * with no avalanche (structured key sets cluster at fine scales;
    * measured +42% and +29% estimate bias on the fixtures for the
    * one- and two-affine-hash constructions before switching). */
  val HllM = 1024L
  val HllW = 20
  /** alpha_m · m² for the raw HLL estimate (Flajolet et al. 2007's
    * bias-corrected constant at m = 1024). Scala's Double.toString is
    * shortest-round-trip, so interpolating this into the oracle SQL
    * reparses to the identical double. */
  val HllAlphaM2: Double = 0.7213 / (1.0 + 1.079 / 1024.0) * 1024.0 * 1024.0

  /** Portable HyperLogLog distinct-count — the MERGEABLE cardinality
    * sketch (per-bucket max survives any union/re-partition order),
    * built on the codegen'd `mix64` splitmix64 finalizer so the DuckDB
    * oracle replays every register bit-exactly (UHUGEINT mod-2^64
    * arithmetic): unlike `q_approx_distinct` (Spark's native HLL++,
    * bound-gated because its xxhash64 registers are engine-internal),
    * the ESTIMATE itself is hash-gated here.
    *
    * Register math stays integer/binary end-to-end: rho comes from the
    * bit length of a 20-bit remainder (`bin()` string length — identical
    * on both engines), and the harmonic sum Σ 2^−rho adds only exact
    * binary fractions spanning ≤ 31 bits of precision, so the double
    * accumulation is EXACT and therefore partition-order-independent —
    * the one FP trap an HLL hash gate has to dodge.
    *
    * Scale: the fact side collapses map-side to ≤ groups·m register
    * rows before the wire; nothing else shuffles. The exact
    * count(DISTINCT) column exists only to measure the sketch (the
    * oracle checks both); at 100 TB the exact column is what you DON'T
    * compute — the sketch is ~8 KB per group forever. */
  def hllDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.read(spark, sfDir, "lineitem")
      .select($"l_returnflag", $"l_orderkey")
    val reg = li
      .select($"l_returnflag",
        call_function("mix64", $"l_orderkey").as("z"))
      // power-of-two masks commute with two's complement, so bitwise
      // extraction on the signed long == the oracle's unsigned % / >>
      .select($"l_returnflag",
        $"z".bitwiseAND(lit(HllM - 1L)).as("bucket"),
        shiftrightunsigned($"z", 10).bitwiseAND(lit((1L << HllW) - 1L))
          .as("rest"))
      .withColumn("rho", when($"rest" === 0L, lit(HllW + 1))
        .otherwise(lit(HllW + 1) - length(bin($"rest"))))
      .groupBy($"l_returnflag", $"bucket")
      .agg(max($"rho").as("r"))
    val sketch = reg.groupBy($"l_returnflag")
      .agg(count(lit(1)).as("buckets_used"),
        sum(pow(lit(2.0), -$"r")).as("s_nonempty"))
      // empty buckets contribute 2^0 = 1 each to the harmonic sum
      .select($"l_returnflag", $"buckets_used",
        ($"s_nonempty" + (lit(HllM) - $"buckets_used")).as("s"))
    val exact = li.groupBy($"l_returnflag")
      .agg(countDistinct($"l_orderkey").as("exact_orders"))
    // Flajolet et al.'s small-range branch: below 2.5m the raw harmonic
    // estimator biases high and LINEAR COUNTING on the empty buckets is
    // the accurate regime (m·ln(m/empty)); both engines take the branch
    // from identically-computed doubles, so the switch is deterministic
    exact.join(broadcast(sketch), Seq("l_returnflag"))
      .withColumn("est_raw", lit(HllAlphaM2) / $"s")
      .withColumn("est",
        when($"est_raw" < lit(2.5 * HllM) && $"buckets_used" < HllM,
          lit(HllM.toDouble)
            * log(lit(HllM.toDouble) / (lit(HllM) - $"buckets_used")))
          .otherwise($"est_raw"))
      .select($"l_returnflag", $"exact_orders", $"buckets_used",
        round($"est", 4).as("hll_est"),
        (abs($"est" / $"exact_orders" - lit(1.0)) < 0.25).as("hll_ok"))
      .orderBy($"l_returnflag".asc)
  }

  /** Sliding-window distinct users per day via HLL register MERGE — the
    * reason mergeable sketches exist: the raw event stream is read ONCE
    * and collapses map-side to ≤ m register rows per day; every 7-day
    * window estimate is then computed purely in sketch space by taking
    * per-bucket maxima across the window's days. count(DISTINCT) does
    * not compose across overlapping windows — at 100 TB the exact path
    * re-reads a week of raw data per day, while the sketch path stores
    * ~8 KB/day forever and answers any window retroactively.
    *
    * The fan-out is SKETCH-side: each (day, bucket, rho) row serves the
    * next `winDays` windows via an explode over ≤ days·m·winDays rows —
    * corpus-size-independent, so the pattern survives any event volume.
    * Same portable mix64 geometry as [[hllDistinct]] (registers and the
    * harmonic sum are bit-replayed by the oracle; the exact twin exists
    * only to measure the sketch). */
  /** Sliding-window length in days — shared with the DuckDB oracle. */
  val HllWinDays = 7

  /** Per-day HLL register build (day, bucket, r) from an events frame —
    * shared by [[hllSliding]] and the STREAMING register maintainer
    * (`stream_hll_distinct`): the groupBy-max is exactly the
    * incremental state update a Complete-mode streaming aggregation
    * keeps, because register max is merge-order-invariant. `mix64`
    * resolves through GraftExtensions. */
  private[graft] def hllDayRegisters(ev: DataFrame): DataFrame = {
    ev.select(to_date(col("ts")).as("day"),
        call_function("mix64", col("user_id")).as("z"))
      .select(col("day"),
        col("z").bitwiseAND(lit(HllM - 1L)).as("bucket"),
        shiftrightunsigned(col("z"), 10)
          .bitwiseAND(lit((1L << HllW) - 1L)).as("rest"))
      .withColumn("rho", when(col("rest") === 0L, lit(HllW + 1))
        .otherwise(lit(HllW + 1) - length(bin(col("rest")))))
      .groupBy(col("day"), col("bucket")).agg(max(col("rho")).as("r"))
  }

  /** Estimate + exact-twin finalize over a (day, bucket, r) register
    * table — the batch tail shared by the streaming register maintainer
    * (whose registers it must reproduce bit-for-bit) and any batch
    * builder. */
  private[graft] def hllFinalizeDaily(spark: SparkSession, sfDir: String,
      reg: DataFrame): DataFrame = {
    import spark.implicits._
    val sketch = reg.groupBy($"day")
      .agg(count(lit(1)).as("buckets_used"),
        sum(pow(lit(2.0), -$"r")).as("s_nonempty"))
      .select($"day", $"buckets_used",
        ($"s_nonempty" + (lit(HllM) - $"buckets_used")).as("s"))
    val exact = Tables.read(spark, sfDir, "events")
      .select(to_date($"ts").as("day"), $"user_id")
      .groupBy($"day").agg(countDistinct($"user_id").as("exact_users"))
    exact.join(sketch, Seq("day"))
      .withColumn("est_raw", lit(HllAlphaM2) / $"s")
      .withColumn("est",
        when($"est_raw" < lit(2.5 * HllM) && $"buckets_used" < HllM,
          lit(HllM.toDouble)
            * log(lit(HllM.toDouble) / (lit(HllM) - $"buckets_used")))
          .otherwise($"est_raw"))
      .select($"day".cast("string").as("day"), $"exact_users",
        $"buckets_used", round($"est", 4).as("hll_est"),
        (abs($"est" / $"exact_users" - lit(1.0)) < 0.25).as("hll_ok"))
      .orderBy($"day".asc)
  }

  def hllSliding(spark: SparkSession, sfDir: String,
      winDays: Int = HllWinDays): DataFrame = {
    import spark.implicits._
    val ev = Tables.read(spark, sfDir, "events")
      .select($"ts", $"user_id")
    val days = ev.select(to_date($"ts").as("day")).distinct()
    val reg = hllDayRegisters(ev)
    val fan = reg
      .withColumn("i", explode(sequence(lit(0), lit(winDays - 1))))
      .select(expr("date_add(day, i)").as("wday"), $"bucket", $"r")
      .join(days.withColumnRenamed("day", "wday"), Seq("wday"), "left_semi")
    val sketch = fan.groupBy($"wday", $"bucket").agg(max($"r").as("r"))
      .groupBy($"wday")
      .agg(count(lit(1)).as("buckets_used"),
        sum(pow(lit(2.0), -$"r")).as("s_nonempty"))
      .select($"wday", $"buckets_used",
        ($"s_nonempty" + (lit(HllM) - $"buckets_used")).as("s"))
    // exact twin: distinct (day,user) pairs fan the same way — the
    // measurement column, not the at-scale path
    val exact = ev.select(to_date($"ts").as("day"), $"user_id").distinct()
      .withColumn("i", explode(sequence(lit(0), lit(winDays - 1))))
      .select(expr("date_add(day, i)").as("wday"), $"user_id")
      .join(days.withColumnRenamed("day", "wday"), Seq("wday"), "left_semi")
      .groupBy($"wday").agg(countDistinct($"user_id").as("exact_users"))
    exact.join(sketch, Seq("wday"))
      .withColumn("est_raw", lit(HllAlphaM2) / $"s")
      .withColumn("est",
        when($"est_raw" < lit(2.5 * HllM) && $"buckets_used" < HllM,
          lit(HllM.toDouble)
            * log(lit(HllM.toDouble) / (lit(HllM) - $"buckets_used")))
          .otherwise($"est_raw"))
      .select($"wday".cast("string").as("day"), $"exact_users",
        $"buckets_used", round($"est", 4).as("hll_est"),
        (abs($"est" / $"exact_users" - lit(1.0)) < 0.25).as("hll_ok"))
      .orderBy($"day".asc)
  }

  /** Shared HLL finalize: harmonic estimate with the small-range
    * linear-counting branch, from (buckets_used, s) columns. Exact
    * binary-fraction arithmetic up to the one division — deterministic
    * on both engines (see [[hllDistinct]]). */
  private def hllEstimate(bucketsUsed: Column, s: Column): Column =
    when(lit(HllAlphaM2) / s < lit(2.5 * HllM) && bucketsUsed < HllM,
      lit(HllM.toDouble) * log(lit(HllM.toDouble) / (lit(HllM) - bucketsUsed)))
      .otherwise(lit(HllAlphaM2) / s)

  /** Audience-overlap estimation in pure sketch space — |A ∩ B| for every
    * unordered event-type pair via inclusion–exclusion over MERGED HLL
    * registers: union registers are per-bucket maxima of the two sides
    * (the merge that makes HLL a lattice), inter = est(A) + est(B) −
    * est(A ∪ B), clamped at 0. This is THE query sketch stores exist
    * for: set intersections do not compose from cardinalities, and the
    * exact path re-shuffles raw ids for every pair — the sketch path
    * answers all |types|²/2 pairs from one register table.
    *
    * Scale: the raw stream collapses map-side to ≤ |types|·m register
    * rows in ONE aggregate; pair fan-out happens in sketch space (a
    * broadcast join of the register table against the |types|² pair
    * list), so adding a type costs m rows, not a corpus pass. The exact
    * twin (one distinct + a per-user type-set self-join) exists only to
    * measure the sketch and is itself bounded by (user, type) pairs,
    * never raw events. Inclusion–exclusion error compounds three
    * estimates, so the acceptance band is 2× the single-set bound. */
  def hllIntersect(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.read(spark, sfDir, "events")
      .select($"event_type", $"user_id")
    val reg = ev
      .select($"event_type", call_function("mix64", $"user_id").as("z"))
      .select($"event_type",
        $"z".bitwiseAND(lit(HllM - 1L)).as("bucket"),
        shiftrightunsigned($"z", 10).bitwiseAND(lit((1L << HllW) - 1L))
          .as("rest"))
      .withColumn("rho", when($"rest" === 0L, lit(HllW + 1))
        .otherwise(lit(HllW + 1) - length(bin($"rest"))))
      .groupBy($"event_type", $"bucket")
      .agg(max($"rho").as("r"))
    val singles = reg.groupBy($"event_type")
      .agg(count(lit(1)).as("bu"),
        sum(pow(lit(2.0), -$"r")).as("s_ne"))
      .select($"event_type",
        hllEstimate($"bu", $"s_ne" + (lit(HllM) - $"bu")).as("est"))
    val pairs = singles.select($"event_type".as("t1"))
      .crossJoin(singles.select($"event_type".as("t2")))
      .filter($"t1" < $"t2")
    val unionEst = reg
      .join(broadcast(pairs),
        $"event_type" === $"t1" || $"event_type" === $"t2")
      .groupBy($"t1", $"t2", $"bucket")
      .agg(max($"r").as("r"))
      .groupBy($"t1", $"t2")
      .agg(count(lit(1)).as("bu"), sum(pow(lit(2.0), -$"r")).as("s_ne"))
      .select($"t1", $"t2",
        hllEstimate($"bu", $"s_ne" + (lit(HllM) - $"bu")).as("est_union"))
    val userTypes = ev.distinct()
    val exact = userTypes.as("a")
      .join(userTypes.as("b"),
        $"a.user_id" === $"b.user_id"
          && $"a.event_type" < $"b.event_type")
      .groupBy($"a.event_type".as("t1"), $"b.event_type".as("t2"))
      .agg(count(lit(1)).as("exact_both"))
    exact
      .join(broadcast(singles.select($"event_type".as("t1"),
        $"est".as("est1"))), Seq("t1"))
      .join(broadcast(singles.select($"event_type".as("t2"),
        $"est".as("est2"))), Seq("t2"))
      .join(broadcast(unionEst), Seq("t1", "t2"))
      .withColumn("inter", greatest($"est1" + $"est2" - $"est_union",
        lit(0.0)))
      .select($"t1", $"t2", $"exact_both",
        round($"inter", 4).as("hll_est"),
        (abs($"inter" / $"exact_both" - lit(1.0)) < 0.5).as("hll_ok"))
      .orderBy($"t1".asc, $"t2".asc)
  }

  /** BLOCK (row-group) SAMPLING with a sample-derived error bound — the
    * cheap-estimate op a 100 TB warehouse answers "roughly how much
    * revenue?" with: instead of row-level Bernoulli sampling (which
    * still touches every row-group), whole key-range BLOCKS are kept or
    * skipped — the physical shape of parquet row-group pruning, where a
    * skipped block is never read. Blocks are key ranges sized from the
    * corpus (`max(l_orderkey)` → ≤ 256 blocks, the adaptive-sizing
    * discipline), selection is the splitmix64 gate `mix64(blk) mod 8 =
    * 0` (deterministic, skew-immune, replayed by the oracle's UHUGEINT
    * chain), and the estimate is the standard SRS-without-replacement
    * expansion N·x̄ with its finite-population-corrected variance.
    *
    * The gate is the `q_quantiles_approx` discipline made STRONGER:
    * everything here is deterministic, so the estimate itself is
    * exported alongside the exact total — BOTH as integer cents
    * (floor((Sx·N)/m); no doubles anywhere in the operator), and
    * `est_ok` asserts (est − exact)² ≤ 16·Var̂(est) — the 4-SE bound
    * computed from the SAMPLE's own block variance, cleared of
    * denominators into pure integer arithmetic (DECIMAL(38,0) here,
    * HUGEINT in DuckDB): (N·Sx − T·m)²·(m−1) ≤ 16·N·(N−m)·(m·Sxx − Sx²). 4 SE, not 3:
    * the committed sf0.001 draw sits at 3.3 SE (key-sparse blocks are
    * heavy-tailed at tiny corpora; measured z² = 10.96 / 1.05 / 1.63 /
    * 0.15 across sf0.001/0.01/0.1/10×), and Chebyshev guarantees ≥
    * 93.75% coverage at 4 SE for ANY block distribution — the honest
    * bound that holds at every committed scale with margin.
    *
    * Scale: one pass to block sums (map-side combine on ≤ 256 keys), a
    * 1-row aggregate; the sampled fraction of blocks is the fraction of
    * row groups a pruned scan would read. */
  def sampleBlocks(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.read(spark, sfDir, "lineitem")
      .select($"l_orderkey", $"l_extendedprice")
    val mk = li.agg(max($"l_orderkey")).head().getLong(0)
    val bw = math.max(1L, (mk + 256L) / 256L)
    val blocks = li
      .select(expr(s"l_orderkey div $bw").as("blk"),
        floor($"l_extendedprice" * 100.0 + 0.5).cast("long").as("cents"))
      .groupBy($"blk")
      .agg(sum($"cents").as("bs"))
      .withColumn("sampled",
        pmod(call_function("mix64", $"blk"), lit(8L)) === 0L)
    val d = (c: Column) => c.cast("decimal(38,0)")
    blocks
      .agg(count(lit(1)).as("n_blocks"),
        sum(when($"sampled", 1L).otherwise(0L)).as("m"),
        sum($"bs").as("t"),
        sum(when($"sampled", $"bs").otherwise(0L)).as("sx"),
        sum(when($"sampled", d($"bs") * d($"bs"))
          .otherwise(d(lit(0L)))).as("sxx"))
      .select($"n_blocks", $"m",
        $"t".as("exact_revenue_cents"),
        // integer expansion floor((Sx·N)/m): cents-exact in BOTH
        // engines — a round(double, 4) here would be FALSE precision
        // (at a 3e11-dollar total the 4th decimal sits below the
        // double's ulp, and the two engines' round() diverge by one
        // last digit — measured at the 10× corpus). Long-safe:
        // Sx·N ≤ total-cents · 256, inside Long to ~3.6e16 cents.
        // m < 2 guard: a corpus whose deterministic draw selects zero
        // blocks would divide by zero under ANSI, and m = 1 makes the
        // sample variance degenerate (0 ≤ 0, a vacuous bound) — both
        // surface as NULL estimate/bound, never a throw or a false
        // "within 4 SE" claim. The committed fixtures draw m ≥ 2 at
        // every sf, so the declared rows are unchanged.
        when($"m" >= 2L, expr("(sx * CAST(n_blocks AS BIGINT)) DIV m"))
          .as("est_revenue_cents"),
        when($"m" >= 2L,
          (d($"sx") * d($"n_blocks") - d($"t") * d($"m"))
            * (d($"sx") * d($"n_blocks") - d($"t") * d($"m"))
            * (d($"m") - d(lit(1L)))
            <= d(lit(16L)) * d($"n_blocks") * (d($"n_blocks") - d($"m"))
               * (d($"m") * $"sxx" - d($"sx") * d($"sx")))
          .as("est_ok"))
  }
}
