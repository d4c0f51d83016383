package graft.operators

import scala.collection.mutable.LongMap
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Deduplication operators over `documents` — the exact / MinHash-LSH /
  * SimHash / n-gram-Jaccard family a training-data pipeline runs before
  * anything else.
  *
  * Scale stance: exact dedup is one hash-shuffle on the normalized key.
  * The near-dup operators never do an all-pairs join — candidates come
  * from LSH band buckets (MinHash, SimHash) or a blocking key (prefix),
  * so the join fan-out is bounded by bucket size, which is what makes
  * them viable at 10^10 documents. Pair outputs are canonicalized
  * (doc_a < doc_b) and deduplicated.
  */
object Dedup {

  private def normText: Column = graft.functions.TextNorm.normCol

  /** MinHash geometry — single source of truth shared by the signature
    * builder ([[minhashBanded]]), the estimate divisor
    * ([[estimatedPairs]]), and the streaming index twin: a width change
    * here re-derives every consumer (a drifting hard-coded divisor would
    * silently skew every est_jaccard). */
  private[graft] val NPerm = graft.functions.MinhashSig.NPerm
  private[graft] val NBands = 4

  /** Release the storage blocks behind an eager `localCheckpoint` once a
    * later iterate has materialized — without this, an iterative loop
    * pins EVERY generation's full data for the operator's lifetime
    * (checkpointed blocks are non-evictable: lineage is cut, so eviction
    * would fail the job rather than recompute). `Dataset.unpersist` is a
    * no-op for checkpoints (they are not CacheManager entries); the
    * handle lives on the plan's `LogicalRDD` ([[checkpointRdd]]). */
  private[graft] def dropCheckpoint(df: DataFrame): Unit =
    checkpointRdd(df).foreach(_.unpersist(false): Unit)

  /** The RDD behind a checkpointed frame's `LogicalRDD`, if it has one. */
  private[graft] def checkpointRdd(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l.rdd }

  /** Exact dedup: group on (xxhash64(norm), norm), keep the smallest
    * doc_id. Grouping on the hash alone would silently merge 64-bit
    * collisions (~n²/2^65 expected at 10^10 docs — a few real ones);
    * including the full normalized text in the key makes the group exact
    * while the leading hash keeps partitioning/comparison cheap. One
    * hash-aggregate shuffle either way. */
  def exactDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.read(spark, sfDir, "documents")
      .withColumn("norm", normText)
      .groupBy(xxhash64($"norm").as("text_hash"), $"norm")
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .select($"keep_id", $"n_copies")
      .orderBy($"keep_id".asc)
  }

  /** Two-pass exact dedup — the 100 TB shape. `exactDedup` is correct but
    * its one shuffle carries the FULL normalized text as part of the group
    * key: at 100 TB the exchange is corpus-sized. Here pass 1 shuffles
    * only (xxhash64, doc_id) — 16 bytes/row — to find hash groups; text
    * crosses the wire ONLY for rows whose hash has count > 1 (the dup
    * candidates, typically a small fraction), where pass 2 confirms
    * byte-equality by grouping on (hash, norm), so 64-bit collisions
    * still split correctly. Output is identical to `exactDedup` (same
    * oracle). The candidate-hash dim is broadcast — one long per
    * duplicated GROUP — and the hint is load-bearing: without it the
    * semi-join's probe-side shuffle would carry the full text again
    * (even under AQE's runtime BHJ conversion the probe map stage still
    * writes its shuffle files). The hint is ALWAYS honored, so on a
    * pathological corpus whose dup-group count outgrows driver memory
    * the job fails fast with a broadcast error rather than silently
    * degrading — at that point the right tool is a bloom filter over
    * the dup hashes or pre-bucketing both passes on the hash. */
  def exactDedupTwoPass(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    def docs = Tables.read(spark, sfDir, "documents")
      .withColumn("norm", normText)
      .select($"doc_id", $"norm", xxhash64($"norm").as("text_hash"))
    val byHash = docs.drop("norm")
      .groupBy($"text_hash")
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
    val singles = byHash.filter($"n_copies" === 1)
      .select($"keep_id", $"n_copies")
    val dupHashes = byHash.filter($"n_copies" > 1).select($"text_hash")
    val confirmed = docs
      .join(broadcast(dupHashes), Seq("text_hash"), "left_semi")
      .groupBy($"text_hash", $"norm")
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .select($"keep_id", $"n_copies")
    singles.union(confirmed).orderBy($"keep_id".asc)
  }

  /** Exact n-gram (token-3-gram) Jaccard near-dup within a cheap blocking
    * key: (first 64 normalized chars, shingle-count log2 bucket). Blocking
    * bounds the pair count — the exact-similarity stage only ever sees
    * same-block pairs, the standard sorted-neighborhood/blocking design at
    * scale.
    *
    * The size bucket is the skew guard: a corpus with boilerplate prefixes
    * (license headers, templated pages) puts millions of docs in one
    * prefix block, degrading the self-join to quadratic fan-out; splitting
    * each block by `floor(log2(|shingles| + 1))` caps same-bucket
    * occupancy without losing a single qualifying pair. Proof: for
    * Jaccard ≥ t with shingle-set sizes a ≤ b, t ≤ j ≤ |∩|/|∪| ≤ a/b, so
    * b ≤ a/t, hence log2(b+1) − log2(a+1) < log2(1/t) and the floored
    * buckets differ by at most W = ceil(log2(1/t)) — covered by probing
    * each left doc into buckets {s, …, s+W} (W = 1 at the default
    * t = 0.5). Pairs are canonicalized (least, greatest), so the output
    * is IDENTICAL to the unsplit blocking — the DuckDB oracle joins on
    * the prefix block alone, independently verifying the pruning is
    * lossless. */
  def ngramJaccard(spark: SparkSession, sfDir: String,
      threshold: Double = 0.5): DataFrame = {
    import spark.implicits._
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    ngramCandidates(spark, sfDir, threshold)
      .filter($"jaccard" >= threshold)
      .select($"doc_a", $"doc_b", $"jaccard")
      .orderBy($"doc_a".asc, $"doc_b".asc)
  }

  /** Candidate pairs with exact Jaccard, pre-threshold — exposed so the
    * skew stress spec can assert both candidate-count bounds and
    * losslessness of the size-bucket split.
    *
    * The probe width is DERIVED from the threshold — W = ceil(log2(1/t))
    * buckets above a doc's own — so the split is lossless for every
    * t ∈ (0, 1], not just the t ≥ 0.5 the original {s, s+1} probe set
    * covered (FP note: computing ceil on the floating log over-probes by
    * at most one bucket near integer values, which costs candidates but
    * never loses a pair).
    *
    * Each unordered pair is emitted exactly once, with no dedup shuffle:
    * same-bucket pairs via `doc_a < doc_b`, cross-bucket pairs only
    * through the lower-bucket doc's `s+d` probe at exactly d = the
    * bucket gap (the bucket assignment is fixed per doc, so the paths
    * are disjoint); `least/greatest` canonicalizes the cross-bucket
    * order. */
  private[graft] def ngramCandidates(spark: SparkSession,
      sfDir: String, threshold: Double = 0.5): DataFrame = {
    import spark.implicits._
    // Shingle sets via the codegen'd posexplode + lead-window stream,
    // materialized ONCE by the collect_set aggregate.
    // The one-Project HOF route (`transform(sequence(...))`) is
    // interpreted AND would be re-evaluated per downstream reference —
    // sh_a, the size bucket, and twice inside the explode array — which
    // measured ~18× slower at sf0.1. Docs with < 3 tokens drop out here;
    // their shingle set is empty, so no pair they appear in can reach any
    // positive threshold — output is unchanged.
    val toks = Tables.read(spark, sfDir, "documents")
      .withColumn("norm", normText)
      .select($"doc_id", substring($"norm", 1, 64).as("block"),
        posexplode(split($"norm", " ")).as(Seq("pos", "tok")))
    val w = Window.partitionBy($"doc_id").orderBy($"pos".asc)
    val docs = toks
      .withColumn("t1", lead($"tok", 1).over(w))
      .withColumn("t2", lead($"tok", 2).over(w))
      .filter($"t2".isNotNull)
      .select($"doc_id", $"block",
        concat_ws(" ", $"tok", $"t1", $"t2").as("shingle"))
      .groupBy($"doc_id", $"block")
      .agg(collect_set($"shingle").as("shingles"))
      .withColumn("szb",
        floor(log2(size($"shingles") + 1)).cast("int"))
      .select($"doc_id", $"block", $"szb", $"shingles")
    val probeW = math.ceil(math.log(1.0 / threshold) / math.log(2.0))
      .toInt.max(0)
    val a = docs.select($"doc_id".as("id_a"),
      $"block", $"shingles".as("sh_a"), $"szb".as("szb_a"),
      explode(array((0 to probeW).map(d => $"szb" + d): _*)).as("szbk"))
    val b = docs.select($"doc_id".as("id_b"), $"block",
      $"shingles".as("sh_b"), $"szb".as("szbk"))
    a.join(b, Seq("block", "szbk"))
      .filter(($"szbk" === $"szb_a" && $"id_a" < $"id_b") ||
        $"szbk" =!= $"szb_a")
      .withColumn("jaccard", round(
        size(array_intersect($"sh_a", $"sh_b")).cast("double") /
          greatest(size(array_union($"sh_a", $"sh_b")), lit(1)).cast("double"),
        4))
      .select(least($"id_a", $"id_b").as("doc_a"),
        greatest($"id_a", $"id_b").as("doc_b"), $"jaccard")
  }

  /** MinHash + LSH banding near-dup: 16 permutations over poly-hashed
    * shingles, banded 4×4; candidate pairs = docs sharing any band bucket;
    * estimated Jaccard = fraction of matching minhashes.
    *
    * The permutation family is `h_p(s) = ((2p+1)·ph(s) + 7919p) mod
    * 1e9+7` over the codegen'd `poly_hash` base — a portable integer
    * formula DuckDB replicates exactly, which makes the whole pipeline
    * (signatures → band buckets → pairs → estimate) oracle-checkable;
    * it is also cheaper than 16 independent string hashes (one byte-loop
    * per shingle, then 16 reg-width mod-muls).
    * Scale: the band-bucket self-join replaces the O(n²) pair space with
    * per-bucket fan-out. Signing is one fused `minhash_sig` call per
    * document ([[minhashBanded]]), and the corpus is signed ONCE per
    * query: `banded` is hash-partitioned on the join key before the
    * self-join, so both sides are the same exchange and AQE reads the
    * second one as a `ReusedExchange` (PlanSpec pins one `documents`
    * scan). The self-join needs that (band, bsig) partitioning anyway;
    * the repartition is the join's own exchange, built once instead of
    * once per side. */
  def minHashLsh(spark: SparkSession, sfDir: String,
      estThreshold: Double = 0.5): DataFrame = {
    import spark.implicits._
    val banded = minhashBanded(Tables.read(spark, sfDir, "documents"))
      .repartition($"band", $"bsig")
    val left = banded.select($"doc_id".as("doc_a"), $"sig".as("sig_a"),
      $"band", $"bsig")
    val right = banded.select($"doc_id".as("doc_b"), $"sig".as("sig_b"),
      $"band", $"bsig")
    estimatedPairs(left.join(right, Seq("band", "bsig"))
      .filter($"doc_a" < $"doc_b"), estThreshold)
  }

  /** The minhash band-bucket SIGNATURE INDEX for a docs(doc_id, text)
    * corpus — (doc_id, sig, band, bsig), 4 rows per doc: exactly the
    * table a production near-dup pipeline persists between ingest
    * batches. Shared by [[minHashLsh]] (self-join), [[dedupIncremental]]
    * (delta-vs-index join), and the STREAMING ingest twin
    * (`stream_minhash_index`) — one signing kernel for every route.
    *
    * Signing is the fused codegen'd [[graft.functions.MinhashSig]]
    * expression over the in-row token array: shingling, per-shingle
    * poly-hash, and all 16 permutation minima fold inside one map-only
    * operator — ZERO shuffles before banding (the historical window
    * route shuffled the full shingle stream per doc; the interpreted
    * HOF route re-hashed every shingle 16× — both live on as
    * differential references in DedupSpec, which proves all three routes
    * produce the identical (doc_id, sig, band, bsig) set). Map-only is
    * also what lets a streaming micro-batch sign documents without a
    * second aggregation. Docs with < 3 tokens have no shingles → NULL
    * signature → no band rows, same as the window route's empty group.
    * The NULL guard lives inside [[bandExplode]]'s generator, not in a
    * Filter: the optimizer pushes a `sig IS NOT NULL` Filter below the
    * Project by inlining `sig`, which evaluates the normalisation and
    * `minhash_sig` twice per row (PlanSpec pins exactly one call). */
  private[graft] def minhashBanded(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .withColumn("norm", normText)
      .withColumn("sig", call_function("minhash_sig", split($"norm", " ")))
      .transform(bandExplode)
  }

  /** (doc_id, sig) → one row per (band, bsig) bucket — the 4-way band
    * explode shared by every signing route. A NULL `sig` explodes a NULL
    * array, which emits no rows. */
  private[graft] def bandExplode(sig: DataFrame): DataFrame = {
    val spark = sig.sparkSession
    import spark.implicits._
    val rowsPerBand = NPerm / NBands
    sig.select($"doc_id", $"sig",
      explode(when($"sig".isNotNull, array((0 until NBands).map(b =>
        struct(lit(b).as("band"),
          concat_ws(":", (0 until rowsPerBand).map(r =>
            col("sig")(b * rowsPerBand + r)): _*).as("bsig"))): _*)))
        .as("bb"))
      .select($"doc_id", $"sig", $"bb.band", $"bb.bsig")
  }

  /** Band-bucket occupancy cells over a banded signature table — one row
    * per (band, bsig) with member count and the mod-prime member
    * checksum: the signature INDEX summary a streaming ingest maintains
    * (counts and the squared-fold checksum are merge-order-invariant
    * sums, so Complete-mode state holds exactly these cells whatever the
    * micro-batch slicing). Shared by the batch index and the
    * `stream_minhash_index` twin — the finalize-through-shared-code
    * discipline. */
  private[graft] def bandCells(banded: DataFrame): DataFrame = {
    val spark = banded.sparkSession
    import spark.implicits._
    val P = TextAnalysis.ChecksumP
    banded.groupBy($"band", $"bsig")
      .agg(count(lit(1)).as("n_docs"),
        pmod(sum((pmod($"doc_id", lit(P)) * pmod($"doc_id", lit(P)) % P)
          .cast("decimal(38,0)")), lit(P).cast("decimal(38,0)"))
          .cast("long").as("member_checksum"))
  }

  /** FORGET applied to the persisted SIGNATURE INDEX — the lifecycle op
    * that completes the index story ([[minhashBanded]] builds it,
    * `stream_minhash_index` maintains it on arrival, [[dedupIncremental]]
    * probes it): a compliance tombstone batch must also REMOVE the
    * forgotten docs' signatures, or the index keeps proposing candidate
    * pairs against content the pipeline already purged. The cell summary
    * (member count + mod-P member checksum) is a pair of SUBTRACTABLE
    * sums, so maintenance is O(|tombstones|): re-sign ONLY the tombstoned
    * docs (one pass over the compliance-sized batch — signatures are
    * per-doc, so a doc's signature over its own text alone is identical
    * to its contribution in the full build) and subtract their per-cell
    * contributions, broadcast, from the persisted cells; a cell whose
    * members all die drops out at n_docs = 0. The alive corpus is never
    * re-shingled, re-signed, or even READ — PlanSpec asserts the final
    * plan scans `documents` exactly once (the tombstone side; the
    * persisted index is a frozen checkpoint). The oracle REBUILDS the
    * index from scratch over the alive corpus, so the hash gate is the
    * subtract-maintenance ≡ rebuild proof — the `dedup_incremental_cc`
    * discipline applied to deletion.
    *
    * Tombstones = the same `mix64(doc_id) mod 19 = 0` draw as `q_forget`
    * (~5% of the corpus), so the forget surfaces and the index stay on
    * one compliance batch. */
  def dedupForgetIndex(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.read(spark, sfDir, "documents")
    // persisted state stand-in: occupancy cells over the full corpus,
    // built once and frozen (the signature-index precedent)
    val cells = bandCells(minhashBanded(docs)).localCheckpoint(true)
    val tombs = docs.filter(
      pmod(call_function("mix64", $"doc_id"), lit(19L)) === 0L)
    forgetIndexCells(cells, bandCells(minhashBanded(tombs)))
  }

  /** The subtract core of [[dedupForgetIndex]], exposed for the planted
    * vanishing-cell / shared-cell specs: persisted cells minus the
    * tombstoned docs' cell contributions, empty cells dropped.
    *
    * PRECONDITION: each tombstone batch is applied exactly once
    * (deliveries are not idempotent — subtraction is not). A duplicate
    * batch that leaves survivors in a cell drives its count NEGATIVE
    * and fails the job via the guard below (DedupSpec pins it); a
    * duplicate whose cells already vanished is structurally
    * undetectable from counts alone (the left join has no row to go
    * negative) — exactly-once delivery is the caller's contract, the
    * guard is the tripwire for the detectable half. */
  private[graft] def forgetIndexCells(cells: DataFrame,
      deadCells: DataFrame): DataFrame = {
    val spark = cells.sparkSession
    import spark.implicits._
    val P = TextAnalysis.ChecksumP
    val dead = broadcast(deadCells.select($"band", $"bsig",
      $"n_docs".as("dead_n"), $"member_checksum".as("dead_cs")))
    cells.join(dead, Seq("band", "bsig"), "left_outer")
      .select($"band".cast("long").as("band"), $"bsig",
        ($"n_docs" - coalesce($"dead_n", lit(0L))).as("n_docs"),
        pmod($"member_checksum" - coalesce($"dead_cs", lit(0L)) + lit(P),
          lit(P)).as("member_checksum"))
      // a NEGATIVE count means more members subtracted than the cell
      // ever held — a re-delivered (non-idempotent) tombstone batch.
      // Silently filtering it would mask index corruption; fail the job
      // instead so the duplicate delivery is detected at the source.
      .withColumn("n_docs", when($"n_docs" < 0L,
        raise_error(concat(
          lit("forgetIndexCells: negative cell count — duplicate"
            + " tombstone batch? band="), $"band".cast("string"),
          lit(" bsig="), $"bsig"))).otherwise($"n_docs"))
      .filter($"n_docs" > 0L)
      .orderBy($"band".asc, $"bsig".asc)
  }

  /** Candidate rows (doc_a, sig_a, doc_b, sig_b, one row per shared band
    * bucket) → deduped estimated-Jaccard pairs above the threshold. */
  private def estimatedPairs(cands: DataFrame,
      estThreshold: Double): DataFrame = {
    val spark = cands.sparkSession
    import spark.implicits._
    cands
      .select($"doc_a", $"doc_b",
        round(expr(
          """aggregate(zip_with(sig_a, sig_b, (x, y) -> if(x = y, 1, 0)),
                       0, (a, x) -> a + x)""").cast("double") / NPerm,
          4).as("est_jaccard"))
      .groupBy($"doc_a", $"doc_b")
      .agg(max($"est_jaccard").as("est_jaccard"))
      .filter($"est_jaccard" >= estThreshold)
      .orderBy($"doc_a".asc, $"doc_b".asc)
  }

  /** INCREMENTAL near-dup dedup — the production ingest shape: dedup a
    * NEW shard (here the odd doc_ids — the driver-visible stand-in for
    * "today's crawl") against the PERSISTED signature index of the
    * existing corpus (even doc_ids), never recomputing or self-joining
    * the index. Candidate pairs follow the `q_delta_join` delta
    * identity: pairs(index ∪ Δ) ∖ pairs(index) = Δ×index + Δ×Δ — the
    * index×index term is exactly the work a full recompute wastes, and
    * at 100 TB it is ~all of the work (|Δ| ≪ |index|).
    *
    * Mechanics: the index's band-bucket table ([[minhashBanded]] over
    * the even docs) is eagerly localCheckpoint'ed — the in-process
    * stand-in for the parquet signature index a warehouse persists (the
    * fitted-model precedent); the shard's signatures are computed fresh
    * (one pass over Δ only) and checkpointed because the single
    * candidate join references Δ on both sides. ONE (band, bsig) join:
    * Δ probes index ∪ Δ; post-join admission keeps (Δ, index) pairs
    * always and (Δ, Δ) pairs once (id_a < id_b) — an (index, index)
    * pair is unrepresentable because the probe side is Δ-only BY
    * CONSTRUCTION (PlanSpec asserts the shape; DedupSpec proves the
    * result ≡ the full-corpus pairs restricted to Δ-touching ones, and
    * that a planted index-index twin is found by the full run but
    * correctly NOT re-examined by the incremental one).
    *
    * Scale: candidate volume is Δ's bucket occupancy, not the corpus's;
    * the index is read once (bucket-joined, no self-pairs); signatures
    * only — no document text — cross the exchange. */
  private[graft] def incrementalPairs(docs: DataFrame, isDelta: Column,
      estThreshold: Double): DataFrame = {
    val indexB = minhashBanded(docs.filter(!isDelta)).localCheckpoint(true)
    val deltaB = minhashBanded(docs.filter(isDelta)).localCheckpoint(true)
    incrementalPairsFromBanded(indexB, deltaB, estThreshold)
  }

  /** The probe/build tail of [[incrementalPairs]] over ALREADY-banded
    * (and materialized) signature frames — split out so a caller that
    * needs BOTH the index-only pair graph and the Δ-touching pairs
    * ([[dedupIncrementalCc]]) bands each half of the corpus exactly
    * once instead of re-running the signature kernel per pair set. */
  private def incrementalPairsFromBanded(indexB: DataFrame,
      deltaB: DataFrame, estThreshold: Double): DataFrame = {
    val spark = indexB.sparkSession
    import spark.implicits._
    val probe = deltaB.select($"doc_id".as("id_a"), $"sig".as("sig_a"),
      $"band", $"bsig")
    val build = indexB.withColumn("is_delta", lit(false))
      .unionByName(deltaB.withColumn("is_delta", lit(true)))
      .select($"doc_id".as("id_b"), $"sig".as("sig_b"), $"is_delta",
        $"band", $"bsig")
    val cands = probe.join(build, Seq("band", "bsig"))
      .filter(!$"is_delta" || $"id_a" < $"id_b")
      .select(least($"id_a", $"id_b").as("doc_a"),
        greatest($"id_a", $"id_b").as("doc_b"),
        when($"id_a" <= $"id_b", $"sig_a").otherwise($"sig_b").as("sig_a"),
        when($"id_a" <= $"id_b", $"sig_b").otherwise($"sig_a").as("sig_b"))
    estimatedPairs(cands, estThreshold)
  }

  /** Declared incremental-dedup query: new shard = odd doc_ids, index =
    * even doc_ids (see [[incrementalPairs]]). Oracle = the full-corpus
    * minhash replay restricted to pairs touching the shard — an
    * independent recompute of the identity the incremental path banks
    * on. */
  def dedupIncremental(spark: SparkSession, sfDir: String,
      estThreshold: Double = 0.5): DataFrame =
    incrementalPairs(Tables.read(spark, sfDir, "documents"),
      col("doc_id") % 2 === 1, estThreshold)

  /** The CLUSTER-MAINTENANCE half of incremental dedup: merge a new
    * shard into PERSISTED cluster labels without ever reloading the
    * index's pair graph. A connected component is
    * connectivity-equivalent to a STAR on its canonical label, so the
    * persisted (member → label) table IS a lossless compression of
    * every index edge — the merge runs the shared star-CC resolver over
    * just `star(index labels) ∪ Δ-touching pairs`
    * ([[incrementalPairs]]), and the result is PROVABLY identical to
    * the full recompute over all pairs (index pairs ∪ Δ pairs = the
    * full pair set; replacing a connected subgraph by its star changes
    * no component). The declared output therefore reuses the
    * `dedup_clusters` schema AND its recursive-walk oracle verbatim:
    * the hash gate is a cross-engine proof that incremental
    * maintenance ≡ recompute.
    *
    * Handles the hard merge cases by construction (DedupSpec plants
    * them on the merge core): a Δ doc with a smaller id than an
    * existing keeper re-canonicalizes the cluster, and a Δ doc pairing
    * into TWO existing clusters bridges them into one.
    *
    * Scale: the merge input is |index members| star edges (labels, not
    * pairs — pre-collapsed to depth 1, so chains the full CC would
    * iterate over are already flat) + Δ's bucket-occupancy pairs; the
    * index corpus is never re-shingled, re-signed, or re-paired. */
  def dedupIncrementalCc(spark: SparkSession, sfDir: String,
      estThreshold: Double = 0.5): DataFrame = {
    import spark.implicits._
    val docs = Tables.read(spark, sfDir, "documents")
    val isDelta = col("doc_id") % 2 === 1
    // each corpus half is signature-banded exactly ONCE (r17: the
    // index half used to be banded twice — once for the index-only
    // pair graph, once inside the Δ probe); both pair sets derive from
    // the same two materialized banded frames.
    val bandedIndex =
      minhashBanded(docs.filter(!isDelta)).localCheckpoint(true)
    val bandedDelta =
      minhashBanded(docs.filter(isDelta)).localCheckpoint(true)
    // persisted state stand-in (built once, frozen — the signature-index
    // precedent): labels over the INDEX-only pair graph. An empty index
    // side degenerates the probe to the full self-dedup of the index
    // corpus (every banded row probes its own band buckets).
    val indexPairs = incrementalPairsFromBanded(bandedIndex.limit(0),
      bandedIndex, estThreshold).select($"doc_a", $"doc_b")
    val (indexLabels, _) = connectedComponentsStar(indexPairs)
    val deltaPairs =
      incrementalPairsFromBanded(bandedIndex, bandedDelta, estThreshold)
        .select($"doc_a", $"doc_b")
    mergeLabels(indexLabels.localCheckpoint(true), deltaPairs)
  }

  /** The merge core of [[dedupIncrementalCc]], exposed for the planted
    * keeper-change / cluster-bridge specs: star edges from the persisted
    * labels + the shard's pairs → re-resolved (doc_id, cluster_id,
    * is_keeper). */
  private[graft] def mergeLabels(indexLabels: DataFrame,
      deltaPairs: DataFrame): DataFrame = {
    val spark = indexLabels.sparkSession
    import spark.implicits._
    val starEdges = indexLabels.filter($"doc_id" =!= $"label")
      .select($"doc_id".as("doc_a"), $"label".as("doc_b"))
    val (merged, _) = connectedComponentsStar(
      starEdges.unionByName(deltaPairs.select($"doc_a", $"doc_b")))
    keeperLabels(merged)
  }

  /** Near-dup cluster resolution — the step AFTER pair generation that
    * every dedup pipeline needs: connected components over the
    * `minHashLsh` pair graph, each doc labeled with its component's min
    * doc_id (the canonical keeper). Pairs alone over-remove: (a,b) and
    * (b,c) pairs must keep ONE of {a,b,c}, not drop both b and c's
    * partners independently. The components come from
    * [[connectedComponentsStar]]; `dedup_clusters_star` names the same
    * query.
    *
    * Deterministic: the fixpoint (component-min labels) is independent
    * of execution order, so the DuckDB oracle — a recursive CTE
    * computing min reachable doc_id — replays it exactly. */
  def dedupClusters(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val pairs = minHashLsh(spark, sfDir).select($"doc_a", $"doc_b")
    keeperLabels(connectedComponentsStar(pairs)._1)
  }

  /** (doc_id, label) rows → the cluster shape every resolver returns:
    * (doc_id, cluster_id, is_keeper), the keeper being the doc that is
    * its own label (its component's min id), ordered by doc_id. */
  private[graft] def keeperLabels(labels: DataFrame): DataFrame =
    labels
      .select(col("doc_id"), col("label").as("cluster_id"),
        (col("doc_id") === col("label")).as("is_keeper"))
      .orderBy(col("doc_id").asc)

  /** Edge rows per round-shuffle partition for the star loop — the
    * RDD twin of AQE's advisory partition size, derived from the DATA
    * (current edge count), never from the core count: at sf0.1 the
    * pair graphs are a few thousand edges → 1 partition (exactly what
    * AQE's coalescing produced), at 100 TB a 10^12-edge graph gets
    * ~10^7 partitions. */
  private val StarRowsPerPartition: Long = 1L << 16

  /** Partition count for an RDD fixpoint-loop shuffle, derived from the
    * DATA (row count), never the core count — see
    * [[StarRowsPerPartition]]. */
  private def loopParts(rows: Long): Int =
    math.min(1L + rows / StarRowsPerPartition, Int.MaxValue.toLong).toInt

  /** A frame's first two bigint columns as the RDD pairs the graph
    * loops run on. */
  private def longPairs(df: DataFrame): RDD[(Long, Long)] =
    df.queryExecution.toRdd.map(r => (r.getLong(0), r.getLong(1)))

  /** The stage-local key → value map a loop builds from one
    * co-partitioned side (a repeated key keeps its last value). */
  private def longMap(it: Iterator[(Long, Long)]): LongMap[Long] = {
    val m = new LongMap[Long]
    it.foreach(t => m(t._1) = t._2)
    m
  }

  /** Alternating large-star/small-star connected components (Kiveris et
    * al., "Connected Components in MapReduce and Beyond", SoCC 2014) —
    * the one connected-components loop: every cluster resolver labels
    * each node with its component's min id through it, and each answers
    * to the same recursive-CTE oracle. Per-iteration shape:
    *
    *  - large-star: every node attaches its LARGER neighbors to the
    *    minimum of its neighborhood; small-star: attaches its smaller
    *    neighbors (and itself) to that minimum.
    *  - each round is ONE shuffle of the neighbor stream by u (r18: an
    *    explicit repartition whose materialized stage feeds BOTH the
    *    groupBy-min and the edges⋈mins equi-join — the join's probe
    *    side always carried the full stream, so sharing its exchange
    *    with the aggregate shuffles strictly fewer bytes than the old
    *    partial-agg-then-separate-probe-shuffle shape, and computes the
    *    union'd stream once instead of twice). A hub key's rows meet on
    *    one reducer for the join in either shape; the real skew defence
    *    is large-star's degree cutting, below.
    *  - large-star provably cuts hub degree (larger neighbors re-attach
    *    to the min, turning a degree-d hub into ~d/2 stars), so the
    *    edge multiset never grows and per-round shuffle bytes are
    *    bounded by the input — the spec asserts the per-iteration edge
    *    counts (= shuffle row counts) are non-increasing on a hub-heavy
    *    graph, and the committed gate (`StarCcAudit`,
    *    `STARCC_ROUNDS{,_HUB}.json`) enforces it numerically. The
    *    SHAPE of convergence depends on the graph: near-star graphs
    *    shrink the edge multiset fast (STARCC_ROUNDS.json: 957 → 429
    *    edges in the first star round, converged by round 4), while
    *    path-like graphs keep edge counts ~flat and instead halve
    *    component DEPTH each double-round (STARCC_ROUNDS_HUB.json:
    *    299,999 edges flat across 19 rounds on a 200k chain — the
    *    textbook O(log n) bound, paid in rounds rather than bytes).
    *
    * Self-loops are dropped each round; edges are kept canonical
    * (small, large) and deduplicated, so the iterate is a set.
    * Convergence is detected in two tiers: per round, ONE aggregate
    * computes the (count, Σ(a+b) as decimal) signature — both MONOTONE
    * NON-INCREASING under the star operations (each emitted edge
    * replaces an endpoint with a neighborhood minimum ≤ it; distinct
    * only removes rows with positive endpoint sums), so a changed set
    * implies a changed signature and the cheap check never misses
    * progress. Only when the signature is unchanged does the exact
    * `subtract` emptiness test run (≈ once per invocation) to CONFIRM
    * the fixpoint rather than trust the monotonicity argument.
    * Iterates are localCheckpoint'ed (constant-size plans). */
  private[graft] def connectedComponentsStar(pairs: DataFrame,
      onRound: (Int, Long) => Unit = (_, _) => ())
      : (DataFrame, Seq[Long]) = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // job labels (guide §1.5): the loop submits many small jobs — the
    // description is what makes a job profile attributable
    def desc[T](label: String)(body: => T): T = {
      spark.sparkContext.setJobDescription(s"starcc: $label")
      try body finally spark.sparkContext.setJobDescription(null)
    }
    // canonical undirected edge set, no self-loops — SQL with AQE on:
    // this one materialization runs the corpus-sized pair pipeline
    var canon = desc("canonicalize")(pairs.toDF("a", "b")
      .select(least($"a", $"b").as("a"), greatest($"a", $"b").as("b"))
      .filter($"a" =!= $"b").distinct()
      .localCheckpoint(true))
    // THE LOOP RUNS ON A PLAIN RDD[(a, b)] (r18). The star rounds'
    // shape is fully fixed by the algorithm (partition by u, per-u
    // min, stream-emit, distinct), so Catalyst has nothing to decide —
    // yet the DataFrame loop paid per round: a fresh
    // optimize+plan pass (~200 ms), one AQE stage JOB per exchange
    // (~5 jobs of 30-150 ms), and an AQE re-optimization between each.
    // The r18 job profile put a near-EMPTY late round at ~440 ms — all
    // machinery, no data. (The measured dead end first: scoping AQE
    // OFF around the DataFrame loop made every CC query 2-5× WORSE —
    // static 32-partition exchanges and unhinted joins cost more than
    // AQE's jobs buy; reverted.) Closures compile once, the per-round
    // work is three shuffles of exactly the neighbor stream, and the
    // per-u minimum is a stage-local LongMap built from the SAME
    // shuffle output the emit streams over (zipPartitions — the RDD
    // form of the r17 shared-exchange + shuffle_hash pin, same
    // hub-skew stance: a hub's rows meet in one partition but are
    // STREAMED, only the per-node min map is held). Rows are
    // specialized (Long, Long) tuples — no boxing on the hot path.
    var edges = longPairs(canon)
    def minMap(nbrs: RDD[(Long, Long)], withSelf: Boolean)
        : RDD[(Long, Long)] =
      nbrs.mapPartitions({ it =>
        val m = new LongMap[Long]
        while (it.hasNext) {
          val t = it.next()
          if (t._2 < m.getOrElse(t._1, Long.MaxValue)) m(t._1) = t._2
        }
        if (withSelf)
          m.iterator.map { case (u, mn) => (u, math.min(mn, u)) }
        else m.iterator
      }, preservesPartitioning = true)
    // large-star: m(u) = min(Γ(u) ∪ {u}); emit (v, m) for v ∈ Γ(u),
    // v > u (exactly one direction per input edge, so the output is ≤
    // one row per input edge). NOT deduplicated — small-star's min is
    // duplicate-insensitive and its trailing distinct canonicalizes
    // the round, so every round's emitted edge SET (the audited
    // counts) is unchanged from the SQL form. ONE shuffle: the
    // neighbor stream is partitioned by u; the per-u minimum is a
    // stage-local LongMap built from that same shuffle output
    // (zipPartitions re-reads the map stage's shuffle files — no
    // second shuffle, no driver round-trip), and the emit STREAMS the
    // neighbor rows against it. Hub-skew stance unchanged: a degree-D
    // hub's rows meet in one partition but are never materialized —
    // only the per-node min map is held — and large-star's degree
    // cutting remains the real defence.
    def largeStar(e: RDD[(Long, Long)], p: Int): RDD[(Long, Long)] = {
      val nbrs = e.flatMap(t => Iterator((t._1, t._2), (t._2, t._1)))
        .partitionBy(new org.apache.spark.HashPartitioner(p))
      nbrs.zipPartitions(minMap(nbrs, withSelf = true)) { (it, mit) =>
        val m = longMap(mit)
        it.flatMap { t =>
          val u = t._1; val v = t._2
          if (v > u) {
            val mm = m(u)
            val a = math.min(v, mm); val b = math.max(v, mm)
            if (a != b) Iterator.single((a, b)) else Iterator.empty
          } else Iterator.empty
        }
      }
    }
    // small-star: m(u) = min over smaller neighbors; emit (m, v) for
    // the other smaller neighbors and (m, u) for u itself. large-star
    // output is canonical (a < b), so the smaller-neighbor stream is
    // exactly the (b, a) direction — no filter pass needed. Trailing
    // distinct canonicalizes the round into a set.
    def smallStar(e: RDD[(Long, Long)], p: Int): RDD[(Long, Long)] = {
      val smaller = e.map(t => (t._2, t._1))
        .partitionBy(new org.apache.spark.HashPartitioner(p))
      smaller.zipPartitions(minMap(smaller, withSelf = false)) {
        (it, mit) =>
          val m = longMap(mit)
          it.flatMap { t =>
            val u = t._1; val v = t._2; val mm = m(u)
            if (v != mm) Iterator.single((mm, v)) else Iterator.empty
          } ++ m.iterator.map { case (u, mm) => (mm, u) }
      }.distinct(p)
    }
    // one narrow fold per round: edge count + exact endpoint sum (ids
    // up to 2^63 × 10^11 edges overflow a long sum — the per-partition
    // long accumulator spills into a BigInteger just before overflow,
    // so no intermediate ever wraps; same exact integer as the old
    // decimal(38,0) SQL sum). Running the fold is also what
    // MATERIALIZES the round's localCheckpoint — one job per round,
    // fold included.
    def signature(e: RDD[(Long, Long)]): (Long, java.math.BigDecimal) = {
      val parts = e.mapPartitions { it =>
        var c = 0L
        var acc = 0L
        var big = java.math.BigInteger.ZERO
        def add(x: Long): Unit = {
          val n = acc + x
          if (((acc ^ n) & (x ^ n)) < 0L) {
            big = big.add(java.math.BigInteger.valueOf(acc)); acc = x
          } else acc = n
        }
        while (it.hasNext) {
          val t = it.next(); c += 1; add(t._1); add(t._2)
        }
        Iterator.single(
          (c, big.add(java.math.BigInteger.valueOf(acc)).toString))
      }.collect()
      val cnt = parts.map(_._1).sum
      val sum = parts.foldLeft(java.math.BigInteger.ZERO) { (a, p) =>
        a.add(new java.math.BigInteger(p._2))
      }
      (cnt, new java.math.BigDecimal(sum))
    }
    var sig = desc("sig r0")(signature(edges))
    var counts = List(sig._1)
    // an empty canonical edge set is already its own fixpoint: running
    // a star round over it would only schedule empty-frame jobs
    var converged = sig._1 == 0L
    var iter = 0
    // round 0 = setup (canonicalization distinct, initial signature):
    // fires BEFORE the first star round so an auditing caller can keep
    // setup shuffle out of round 1's attribution
    onRound(0, sig._1)
    while (!converged && iter < 64) {
      // partition count re-derived from the CURRENT edge count — the
      // edge multiset never grows, so rounds can only get narrower
      val p = loopParts(sig._1)
      val next = desc(s"round ${iter + 1}") {
        val n = smallStar(largeStar(edges, p), p)
        n.localCheckpoint()
        n
      }
      // the signature fold is the checkpoint-materializing action:
      // round + signature = ONE Spark job (4 stages), no per-round
      // Catalyst planning, no AQE stage jobs
      val nextSig = desc(s"sig r${iter + 1}")(signature(next))
      // exact fixpoint test runs only at the signature's fixpoint — and
      // one direction suffices: both iterates are deduplicated sets, so
      // equal counts (from the signature) plus next ⊆ edges IS equality
      // (|A| = |B| ∧ A∖B = ∅ ⟹ A = B)
      converged = sig == nextSig &&
        desc("fixpoint confirm")(next.subtract(edges).isEmpty())
      // the superseded iterate's blocks are dead once `next` is
      // materialized and the fixpoint test above has read it; after
      // round 1 that also releases the canonical frame's checkpoint
      if (iter == 0) { if (canon ne null) dropCheckpoint(canon); canon = null }
      else edges.unpersist(false)
      sig = nextSig
      edges = next
      counts ::= sig._1
      iter += 1
      // round boundary for external audits (StarCcAudit brackets each
      // call with a listener drain to attribute per-round shuffle bytes);
      // `next` is materialized by the signature fold, so all of this
      // round's work has executed by the time the hook fires
      onRound(iter, sig._1)
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge in $iter iterations")
    // fixpoint edges form stars rooted at each component's min, so the
    // label table reads straight off them — children appear exactly once
    // as `b` (two parents would un-fix the fixpoint), roots only as `a`
    // (a root is its component's min and edges are canonical a < b), and
    // every input node IS an endpoint here (nodes only enter via a
    // non-self-loop edge and a component of size ≥ 2 keeps all its
    // members attached at the fixpoint). Converting the (persisted)
    // fixpoint RDD back to a DataFrame here freezes the loop out of the
    // caller's plan exactly like the old LogicalRDD checkpoint did.
    val fixed = edges.toDF("a", "b")
    val labels = fixed.select($"b".as("doc_id"), $"a".as("label"))
      .unionByName(fixed.select($"a".as("doc_id"), $"a".as("label"))
        .distinct())
    (labels, counts.reverse)
  }

  /** The end-to-end dedup pipeline — the single query a curation user
    * actually runs: near-dup pair generation (MinHash+LSH) → cluster
    * resolution ([[connectedComponentsStar]], hub-skew-safe and
    * provably degree-cutting) → keeper filter → surviving-corpus stats
    * per language.
    *
    * Shape at scale: the label table is O(pair-graph nodes) = the
    * duplicated minority of the corpus, so the docs⋈labels join streams
    * the full corpus against the small side (AQE picks broadcast when it
    * fits, shuffled-hash otherwise — no hint pinned, because at 100 TB
    * the dup-node set CAN outgrow a broadcast); one left-outer join plus
    * one low-cardinality groupBy(lang) with map-side partials — nothing
    * else touches the full corpus.
    *
    * Oracle: the recursive-CTE min-reachable-label walk (the cluster
    * oracle) composed with per-lang survival aggregates. */
  def dedupPipeline(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val pairs = minHashLsh(spark, sfDir).select($"doc_a", $"doc_b")
    val (labels, _) = connectedComponentsStar(pairs)
    val dupFlag = labels
      .select($"doc_id", ($"label" =!= $"doc_id").as("dup"))
    val docs = Tables.read(spark, sfDir, "documents")
      .withColumn("n_toks",
        size(split(normText, " ")).cast("long"))
      .select($"doc_id", $"lang", $"n_toks")
    docs.join(dupFlag, Seq("doc_id"), "left_outer")
      .withColumn("removed", coalesce($"dup", lit(false)))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"removed", 1L).otherwise(0L)).as("n_removed"),
        sum(when(!$"removed", 1L).otherwise(0L)).as("n_kept"),
        sum(when(!$"removed", $"n_toks").otherwise(0L)).as("n_tokens_kept"),
        round(avg(when(!$"removed", $"n_toks")), 4).as("avg_tokens_kept"))
      .orderBy($"lang".asc)
  }

  /** SimHash near-dup: 64-bit signature from per-token bit votes computed
    * in a typed mapPartitions (the per-bit vote loop is genuinely
    * imperative — mapPartitions is the documented last-resort tier and
    * stays one narrow no-shuffle stage), then 4×16-bit band buckets for
    * candidates and hamming ≤ `maxHamming` via bit_count(xor).
    *
    * Token bit b is derived from two modular byte-folds:
    * `bit_b = (((b²+3b+7)·m1 + (2b²+b+3)·m2 + b) mod 1e9+7) & 1` with
    * `m1 = fold(31, 1e9+7)`, `m2 = fold(131, 998244353)` — portable
    * integer arithmetic (byte-wise == DuckDB's per-character `ascii()`
    * fold for the ASCII fixtures, like PolyHash), so the full pipeline
    * (votes → signature → band buckets → hamming) is oracle-checkable. */
  def simHash(spark: SparkSession, sfDir: String,
      maxHamming: Int = 8): DataFrame = {
    import spark.implicits._
    val docs = Tables.read(spark, sfDir, "documents")
      .withColumn("norm", normText)
      .select($"doc_id", $"norm").as[(Long, String)]
    val sigs = docs.mapPartitions { it =>
      it.map { case (id, norm) =>
        val votes = new Array[Int](64)
        norm.split(' ').foreach { tok =>
          var m1 = 0L
          var m2 = 0L
          var i = 0
          while (i < tok.length) {
            val c = tok.charAt(i).toLong
            m1 = (m1 * 31 + c) % 1000000007L
            m2 = (m2 * 131 + c) % 998244353L
            i += 1
          }
          var b = 0
          while (b < 64) {
            val mixed = ((b.toLong * b + 3 * b + 7) * m1 +
              (2L * b * b + b + 3) * m2 + b) % 1000000007L
            if ((mixed & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
            b += 1
          }
        }
        var sig = 0L
        var b = 0
        while (b < 64) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
        (id, sig)
      }
    }.toDF("doc_id", "sig")
    // band value is the SHIFTED 16-bit slice (0..65535) — same bucketing
    // as a masked-in-place slice, but reproducible without 64-bit signed
    // wraparound on the oracle side
    val banded = sigs.select($"doc_id", $"sig",
      explode(array((0 until 4).map(b => struct(lit(b).as("band"),
        shiftrightunsigned($"sig", 16 * b).bitwiseAND(lit(0xffffL))
          .as("bsig"))): _*))
        .as("bb"))
      .select($"doc_id", $"sig", $"bb.band", $"bb.bsig")
    val l = banded.select($"doc_id".as("doc_a"), $"sig".as("sig_a"),
      $"band", $"bsig")
    val r = banded.select($"doc_id".as("doc_b"), $"sig".as("sig_b"),
      $"band", $"bsig")
    l.join(r, Seq("band", "bsig"))
      .filter($"doc_a" < $"doc_b")
      .withColumn("hamming",
        expr("bit_count(sig_a ^ sig_b)").cast("int"))
      .filter($"hamming" <= maxHamming)
      .select($"doc_a", $"doc_b", $"hamming")
      .distinct()
      .orderBy($"doc_a".asc, $"doc_b".asc)
  }

  /** Substring-level dedup — the Lee et al. 2022 ("Deduplicating Training
    * Data Makes Language Models Better", public arXiv) curation step the
    * doc-level operators can't express: find token n-gram SPANS that are
    * repeated anywhere in the corpus (across documents or within one) and
    * report, per document, the merged duplicated spans — count, total
    * duplicated-token coverage, longest span, and duplicated fraction.
    * Docs with no duplicated span stay in the output at zero (dropping
    * rows silently is the rawkey lesson).
    *
    * Shape at scale — the corpus pays AGGREGATES ONLY, no self-join:
    * unlike `decontaminate`, where the membership side is a fixed eval
    * suite that broadcasts, the "benchmark" here is the corpus's own
    * duplicated shingles — corpus-sized, so neither broadcastable nor
    * joinable without shuffling the positioned stream twice. Instead the
    * corpus-wide occurrence count lands on each position IN PLACE via a
    * window aggregate over the shash partitioning: ONE shuffle of the
    * (doc, pos, shash) stream, no join, no per-shingle array
    * materialization (the window buffer is spillable; a groupBy +
    * collect_list of sites would build the hottest boilerplate shingle's
    * full site list in one task's heap). Span merging is the classic
    * gaps-and-islands pass, partitioned BY DOCUMENT — fully parallel —
    * and clean docs enter by UNION of zero-rows, not a join, so the
    * whole plan is scan → window → window → aggregate.
    *
    * Positions travel as poly-hash longs + int offsets (~20 bytes/row);
    * the known skew point is a degenerate corpus-dominant shingle whose
    * occurrence rows all land in one (spillable) window partition. The
    * HARDENING (r8): a salted pre-count — `groupBy(shash, salt)` with
    * map-side combine (a hot shingle's millions of rows collapse to ≤
    * 256 per map task BEFORE the exchange), rolled up to per-shingle
    * totals — identifies shingles past `hotCap`; that set is tiny BY
    * CONSTRUCTION (≤ positions/hotCap entries), is broadcast, and its
    * rows BYPASS the window (any shingle past hotCap ≥ 2 is duplicated
    * by definition, so the bypass changes no output row — spec-tested
    * as an equivalence). Cold rows keep the window path, now with every
    * partition bounded by hotCap. The plan gains one broadcast join
    * and one aggregated pre-count exchange, never a corpus-stream
    * shuffle join (plan-guarded: no SortMergeJoin/ShuffledHashJoin).
    *
    * Oracle: DuckDB replays the identical poly-hash, count, and
    * gaps-and-islands logic (joins are fine at oracle scale). */
  def substringDedup(spark: SparkSession, sfDir: String, n: Int = 3,
      hotCap: Long = 1L << 22): DataFrame = {
    import spark.implicits._
    require(n >= 2, s"span shingle width must be >= 2, got $n")
    require(hotCap >= 2L,
      s"hotCap must be >= 2 (the bypass marks hot shingles dup), got $hotCap")
    val docs = Tables.read(spark, sfDir, "documents")
      .withColumn("norm", normText)
      .select($"doc_id", split($"norm", " ").as("toks"))
      .withColumn("n_toks", size($"toks").cast("long"))
    // the positioned stream carries ONLY (doc_id, pos, shash) — ~20
    // bytes/row across the two corpus-scale shuffles; n_toks is
    // re-attached at the end from the zeros branch (max ignores the
    // span rows' null), never shipped per position
    val toks = docs
      .select($"doc_id", posexplode($"toks").as(Seq("pos", "tok")))
    val wDoc = Window.partitionBy($"doc_id").orderBy($"pos".asc)
    val withLeads = (1 until n).foldLeft(toks) { (df, i) =>
      df.withColumn(s"t$i", lead($"tok", i).over(wDoc))
    }
    val starts = withLeads
      .filter(col(s"t${n - 1}").isNotNull)
      .select($"doc_id", $"pos",
        call_function("poly_hash", concat_ws(" ",
          ($"tok" +: (1 until n).map(i => col(s"t$i"))): _*),
          lit(1 << 20)).as("shash"))
      // materialized (r18): the positioned stream feeds both the
      // hot-shingle pre-count and the flagged window path — each re-ran
      // the posexplode + lead-window shingling (guide §2.4/§5)
      .localCheckpoint(true)
    // hot-shingle pre-count: per-(shash, salt) partials collapse
    // map-side (≤ 256 shuffle rows per shingle per map task no matter
    // how hot), roll up to totals, keep only shingles past hotCap —
    // a set bounded by positions/hotCap, hence broadcastable
    val hot = starts
      .groupBy($"shash", pmod($"doc_id" + $"pos", lit(256L)).as("salt"))
      .agg(count(lit(1)).as("c"))
      .groupBy($"shash").agg(sum($"c").as("total"))
      .filter($"total" >= hotCap)
      .select($"shash", lit(true).as("is_hot"))
    // corpus-wide occurrence count per shingle, landed in place by a
    // whole-partition window aggregate — the no-join membership test
    // for every COLD shingle (partition size < hotCap by construction);
    // hot rows bypass it: past hotCap >= 2 they are dup by definition
    val flagged = starts
      .join(broadcast(hot), Seq("shash"), "left_outer")
    val dup = flagged.filter($"is_hot".isNull)
      .withColumn("total", count(lit(1)).over(Window.partitionBy($"shash")))
      .filter($"total" >= 2)
      .select($"doc_id", $"pos")
      .union(flagged.filter($"is_hot").select($"doc_id", $"pos"))
    // gaps-and-islands: a start opens a new span iff it clears every
    // earlier start's coverage end (touching spans merge: pos == prev_end
    // means [.., pos) + [pos, pos+n) are contiguous duplicated text)
    val wPos = Window.partitionBy($"doc_id").orderBy($"pos".asc)
    val spans = dup
      .withColumn("prev_end",
        max($"pos" + n).over(wPos.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_span",
        when($"prev_end".isNull || $"pos" > $"prev_end", 1L).otherwise(0L))
      .withColumn("span_id", sum($"new_span").over(wPos))
      .groupBy($"doc_id", $"span_id")
      .agg((max($"pos") + n - min($"pos")).cast("long").as("span_len"),
        count(lit(1)).as("n_starts"))
    // clean docs join the report by union, not join: one zero-row per
    // doc, reusing `docs` so the tokenization is defined exactly once
    val zeros = docs.select($"doc_id", $"n_toks",
      lit(null).cast("long").as("span_len"), lit(0L).as("n_starts"))
    spans.select($"doc_id", lit(null).cast("long").as("n_toks"),
        $"span_len", $"n_starts")
      .union(zeros)
      .groupBy($"doc_id")
      .agg(max($"n_toks").as("n_tokens"),
        count($"span_len").as("n_spans"),
        coalesce(sum($"span_len"), lit(0L)).as("dup_tokens"),
        coalesce(max($"span_len"), lit(0L)).as("max_span"),
        sum($"n_starts").as("n_dup_starts"))
      .select($"doc_id", $"n_tokens",
        greatest($"n_tokens" - (n - 1), lit(0L)).as("n_shingles"),
        $"n_dup_starts", $"n_spans", $"dup_tokens", $"max_span",
        round($"dup_tokens".cast("double") / greatest($"n_tokens", lit(1L)), 4)
          .as("dup_fraction"))
      .orderBy($"doc_id".asc)
  }

  /** Containment (doc-in-doc) dedup — the asymmetric mode the Jaccard
    * family misses BY CONSTRUCTION: a 10-token license line quoted
    * inside a 10k-token page has containment(A→B) = 1.0 but Jaccard
    * ≈ 0.001, so no symmetric threshold finds it (the size-bucket
    * blocking proof in [[ngramCandidates]] even formalizes why: Jaccard
    * ≥ t forces |B| ≤ |A|/t). Containment is the right relation for
    * boilerplate extraction, quote detection, and the "small doc is a
    * slice of big doc" case of Lee et al. 2022's dedup taxonomy.
    *
    * Estimator (deterministic, oracle-replayed exactly): per document A,
    * probe its `k` smallest token-trigram shingle hashes — bottom-k is
    * the classic containment sketch (Broder's min-wise estimator on the
    * CONTAINED side's set only, so the denominator is |P(A)| ≤ k, not
    * the union) — against the corpus (doc, shash) index;
    * containment-hat(A→B) = |P(A) ∩ S(B)| / |P(A)|. Shingles with
    * document frequency > `maxDf` are excluded from probe sets BEFORE
    * the bottom-k rank: a corpus-dominant boilerplate shingle is
    * (a) useless as evidence of pairwise containment and (b) the one
    * key whose probe join would fan out to DF ≈ corpus rows. With the
    * cap, the candidate join's fan-out is ≤ maxDf per probe row —
    * k·maxDf per document worst case, never quadratic, never all-pairs.
    *
    * Scale shape: one distinct over (doc, shash) (~16 B/row, map-side
    * combined), one DF aggregate, one shash-keyed equi-join to rank
    * probes, one shash-keyed probe join whose output collapses to
    * (a, b) pair counts map-side, one id_a-keyed join for the
    * denominator. Every shuffle is keyed; per-doc windows bound at the
    * doc's own shingle count. Both directions are emitted independently
    * (A-in-B and B-in-A are different facts). */
  def containmentDedup(spark: SparkSession, sfDir: String,
      threshold: Double = 0.8, k: Int = 16, maxDf: Long = 1000L)
      : DataFrame = {
    import spark.implicits._
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    require(k >= 1, s"probe count k must be >= 1, got $k")
    require(maxDf >= 2L,
      s"maxDf must be >= 2 (DF 1 shingles cannot witness a pair), got $maxDf")
    val toks = Tables.read(spark, sfDir, "documents")
      .withColumn("norm", normText)
      .select($"doc_id", posexplode(split($"norm", " ")).as(Seq("pos", "tok")))
    val w = Window.partitionBy($"doc_id").orderBy($"pos".asc)
    // distinct (doc, shash) — the corpus shingle-set index; the
    // posexplode + lead stream is the measured-fast shingling path
    // (see ngramCandidates' note on the HOF alternative)
    // materialized (r18): the shingle-set index feeds THREE consumers —
    // the DF aggregate, the probe ranking join, and the hit-count probe
    // join — and each re-ran the full posexplode + lead-window +
    // distinct pipeline (the r18 job profile's three 400-800 ms jobs).
    // One pass computes it; the reuse is exactly the persisted-index
    // shape a production pipeline keeps (guide §2.4/§5).
    val sh = toks
      .withColumn("t1", lead($"tok", 1).over(w))
      .withColumn("t2", lead($"tok", 2).over(w))
      .filter($"t2".isNotNull)
      .select($"doc_id",
        call_function("poly_hash",
          concat_ws(" ", $"tok", $"t1", $"t2"), lit(1 << 20)).as("shash"))
      .distinct()
      .localCheckpoint(true)
    val df = sh.groupBy($"shash").agg(count(lit(1)).as("df"))
    // probe set P(A): bottom-k DF-capped shingle hashes; (doc, shash)
    // is distinct so the shash sort is a total order — deterministic
    val wk = Window.partitionBy($"doc_id").orderBy($"shash".asc)
    val probes = sh
      .join(df.filter($"df" <= maxDf), Seq("shash"))
      .withColumn("rk", row_number().over(wk))
      .filter($"rk" <= k)
      .select($"doc_id".as("id_a"), $"shash")
    val nProbe = probes.groupBy($"id_a").agg(count(lit(1)).as("n_probe"))
    val hits = probes
      .join(sh.select($"doc_id".as("id_b"), $"shash"), Seq("shash"))
      .filter($"id_a" =!= $"id_b")
      .groupBy($"id_a", $"id_b").agg(count(lit(1)).as("hits"))
    hits.join(nProbe, Seq("id_a"))
      .withColumn("containment",
        round($"hits".cast("double") / $"n_probe", 4))
      .filter($"containment" >= threshold)
      .select($"id_a".as("doc_a"), $"id_b".as("doc_b"),
        $"n_probe", $"hits", $"containment")
      .orderBy($"doc_a".asc, $"doc_b".asc)
  }

  /** Winnowing window width (shingle positions) — shared with the
    * oracle. Guarantee: every run of [[WinnowW]] consecutive shingles
    * contributes at least one fingerprint. */
  private[graft] val WinnowW = 4

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003 — the MOSS algorithm): from the per-position token
    * n-gram hash stream, each window of [[WinnowW]] consecutive hashes
    * selects its minimum; the distinct selected (hash, pos) pairs are
    * the document's fingerprints. The guarantee the full-hash-set
    * schemes lack: ANY shared substring of ≥ w+n−1 tokens produces at
    * least one IDENTICAL fingerprint in both documents, at an expected
    * 2/(w+1) sampling density — position-robust substring evidence at a
    * fraction of `dedup_substring`'s full shingle index.
    *
    * Ties break on (hash, pos) lexicographic min, encoded as the single
    * long hash·2^31 + pos (poly_hash < 2^30, so the packing is exact
    * and order-preserving) — both engines take the same winner without
    * a rightmost-min recursion. Only FULL windows select (count == w),
    * matching the paper; docs shorter than w+n−1 tokens emit zero
    * fingerprints and surface with n_fingerprints = 0.
    *
    * Scale: one corpus scan; both windows partition by doc_id (never
    * global); output is one row per document with a mod-prime checksum
    * of its fingerprint set, so the oracle confirms WHICH fingerprints
    * survive, not just how many. */
  def winnowing(spark: SparkSession, sfDir: String,
      n: Int = 3, w: Int = WinnowW): DataFrame = {
    import spark.implicits._
    val docs = Tables.read(spark, sfDir, "documents")
      .withColumn("norm", normText)
      .select($"doc_id", split($"norm", " ").as("toks"))
    val toks = docs
      .select($"doc_id", posexplode($"toks").as(Seq("pos", "tok")))
    val wDoc = Window.partitionBy($"doc_id").orderBy($"pos".asc)
    val withLeads = (1 until n).foldLeft(toks) { (df, i) =>
      df.withColumn(s"t$i", lead($"tok", i).over(wDoc))
    }
    val starts = withLeads
      .filter(col(s"t${n - 1}").isNotNull)
      .select($"doc_id", $"pos",
        call_function("poly_hash", concat_ws(" ",
          ($"tok" +: (1 until n).map(i => col(s"t$i"))): _*),
          lit(1 << 20)).as("shash"))
    val wWin = Window.partitionBy($"doc_id").orderBy($"pos".asc)
      .rowsBetween(0, w - 1)
    val fps = starts
      .select($"doc_id", $"pos",
        ($"shash" * lit(1L << 31) + $"pos").as("hp"))
      .withColumn("mhp", min($"hp").over(wWin))
      .withColumn("nw", count(lit(1)).over(wWin))
      .filter($"nw" === w)
      .select($"doc_id", $"mhp").distinct()
    val agg = fps.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_fingerprints"),
        pmod(sum(pmod(shiftright($"mhp", 31), lit(TextAnalysis.ChecksumP))),
          lit(TextAnalysis.ChecksumP))
          .as("fp_checksum"))
    val base = docs.select($"doc_id",
      greatest(size($"toks") - (n - 1), lit(0)).cast("long").as("n_shingles"))
    base.join(agg, Seq("doc_id"), "left_outer")
      .select($"doc_id", $"n_shingles",
        coalesce($"n_fingerprints", lit(0L)).as("n_fingerprints"),
        round(coalesce($"n_fingerprints", lit(0L)).cast("double")
          / greatest($"n_shingles", lit(1L)), 4).as("fp_density"),
        coalesce($"fp_checksum", lit(0L)).as("fp_checksum"))
      .orderBy($"doc_id".asc)
  }

  /** Triangle census of the near-dup graph — the cohesion statistic that
    * tells a dedup pipeline whether its candidate pairs form tight
    * boilerplate CLIQUES (high transitivity → cluster-level dedup is
    * safe) or fragile CHAINS (low transitivity → connected components
    * glue unrelated docs through hubs). Counted with the
    * degree-ORIENTED wedge algorithm (Suri & Vassilvitskii, "Counting
    * Triangles and the Curse of the Last Reducer", WWW 2011): each edge
    * points from its lower-(degree, id) endpoint to the higher, wedges
    * form only at each edge's SMALLER endpoint, so a degree-D hub emits
    * O(arboricity²) wedge pairs instead of O(D²) — the difference
    * between a web-scale graph finishing and its hottest reducer dying.
    * The oracle counts the same triangles NAIVELY (id-ordered triple
    * self-join — affordable at oracle scale), independently validating
    * the orientation trick; wedge totals Σ d(d−1)/2 come exactly from
    * the degree table.
    *
    * The edge list is the [[simHash]] pair output, localCheckpoint'ed:
    * degrees, orientation, and the closure probe reuse it three times —
    * without the cut, each use would replay the whole simhash corpus
    * pipeline. */
  def triangleCount(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val edges = simHash(spark, sfDir)
      .select($"doc_a".as("a"), $"doc_b".as("b"))
      .localCheckpoint()
    val deg = edges.select($"a".as("v")).union(edges.select($"b".as("v")))
      .groupBy($"v").agg(count(lit(1)).as("deg"))
    val withDeg = edges
      .join(deg.select($"v".as("a"), $"deg".as("da")), Seq("a"))
      .join(deg.select($"v".as("b"), $"deg".as("db")), Seq("b"))
    val lowFirst = struct($"da", $"a") < struct($"db", $"b")
    val oriented = withDeg.select(
      when(lowFirst, $"a").otherwise($"b").as("src"),
      when(lowFirst, $"b").otherwise($"a").as("dst"))
    val wedges = oriented.as("x")
      .join(oriented.as("y"),
        $"x.src" === $"y.src" && $"x.dst" < $"y.dst")
      .select($"x.dst".as("a"), $"y.dst".as("b"))
    val tri = wedges.join(edges, Seq("a", "b"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    // deg·(deg−1) is even, so the integer div is exact — no double sum
    val wedgeTotal = deg.agg(
      expr("sum(deg * (deg - 1) div 2)").cast("long").as("n_wedges"))
    deg.agg(count(lit(1)).as("n_nodes"))
      .crossJoin(edges.agg(count(lit(1)).as("n_edges")))
      .crossJoin(broadcast(wedgeTotal))
      .crossJoin(broadcast(tri))
      .select($"n_nodes", $"n_edges", $"n_wedges", $"n_triangles",
        round(lit(3.0) * $"n_triangles" / greatest($"n_wedges", lit(1L)), 6)
          .as("transitivity"))
  }

  /** PageRank over the near-dup pair graph — the centrality pass that
    * picks CANONICAL documents out of duplicate clusters (the most-linked
    * copy is the one to keep, the long tail the ones to drop) and feeds
    * quality-weighted sampling. GraphX's convention: rank₀ = 1, then
    * `iters` rounds of r(v) = 0.15 + 0.85·Σ_{u∈Γ(v)} r(u)/deg(u) over
    * the undirected [[minHashLsh]] edges (both directions), no dangling
    * redistribution — isolated docs hold the 0.15 base.
    *
    * FIXED-POINT, like every iterative operator here: ranks are Longs
    * scaled 1e6; the per-edge contribution is `rq DIV deg` (exact integer
    * truncation), the damped update `0.15e6 + (85·Σ) DIV 100` — integer
    * sums are associative, so the result is bit-reproducible under any
    * partitioning and the DuckDB oracle unrolls the three iterations
    * exactly (every sum cast back to BIGINT: DuckDB's sum() widens to
    * HUGEINT, the r7/r8 lesson).
    *
    * Scale: the edge list joins ranks on u (equi-join, AQE-splittable)
    * and the contribution sum collapses MAP-SIDE per v before the
    * exchange — a degree-D hub costs one row per map task, not D rows
    * on one reducer. The edge list is localCheckpoint'ed once, and the
    * iterations run on co-partitioned RDDs (below), so no per-iteration
    * plan is built; at 100 TB you'd bucket edges by u so the
    * per-iteration join never re-shuffles the graph. */
  def pageRank(spark: SparkSession, sfDir: String, iters: Int = 3)
      : DataFrame = {
    import spark.implicits._
    val pairs = minHashLsh(spark, sfDir).select($"doc_a", $"doc_b")
    val edges = pairs
      .union(pairs.select($"doc_b".as("doc_a"), $"doc_a".as("doc_b")))
      .toDF("u", "v")
      .localCheckpoint(true) // cut the minhash corpus chain out of the loop
    val deg = edges.groupBy($"u").agg(count(lit(1)).as("deg"))
    // the rank iterations run on a plain RDD (r18, the
    // [[connectedComponentsStar]] move): the iteration shape is fixed,
    // so per-iteration Catalyst planning + AQE stage jobs were pure
    // overhead. Degrees attach stage-local from the same partitioned
    // edge stream (all copies of a u share a partition); each iteration
    // is ONE shuffle of the (v, rq DIV deg) contributions — integer
    // sums, associative, so the result is bit-identical to the SQL
    // aggregate — and the damped update is a narrow co-partitioned map
    // (a node's next rank reads only its contribution sum). The whole
    // loop executes inside the caller's one action: contribution
    // shuffles are stage-reused, nothing is recomputed exponentially.
    val nEdges = edges.count()
    val part = new org.apache.spark.HashPartitioner(loopParts(nEdges))
    val edgesP = longPairs(edges).partitionBy(part)
    val degM = edgesP.mapPartitions({ it =>
      val m = new LongMap[Long]
      it.foreach(t => m(t._1) = m.getOrElse(t._1, 0L) + 1L)
      m.iterator
    }, preservesPartitioning = true)
    val edgesDeg = edgesP.zipPartitions(degM,
      preservesPartitioning = true) { (eit, dit) =>
      val m = longMap(dit)
      eit.map(t => (t._1, (t._2, m(t._1))))
    }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = Tables.read(spark, sfDir, "documents").select($"doc_id")
    var ranks = nodes.queryExecution.toRdd
      .map(r => (r.getLong(0), 1000000L)).partitionBy(part)
    for (_ <- 1 to iters) {
      val cur = ranks
      val contrib = edgesDeg.zipPartitions(cur,
        preservesPartitioning = true) { (eit, rit) =>
        val m = longMap(rit)
        val acc = new LongMap[Long]
        eit.foreach { case (u, (v, d)) =>
          acc(v) = acc.getOrElse(v, 0L) + m(u) / d
        }
        acc.iterator
      }.reduceByKey(part, _ + _)
      ranks = cur.zipPartitions(contrib,
        preservesPartitioning = true) { (rit, cit) =>
        val m = longMap(cit)
        rit.map(t =>
          (t._1, 150000L + (m.getOrElse(t._1, 0L) * 85L) / 100L))
      }
    }
    ranks.toDF("doc_id", "rq")
      .join(deg.select($"u".as("doc_id"), $"deg"), Seq("doc_id"),
        "left_outer")
      .select($"doc_id", coalesce($"deg", lit(0L)).as("degree"),
        $"rq".as("rank_q"))
      .orderBy($"doc_id".asc)
  }
}
